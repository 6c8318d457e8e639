"""SPARQL 1.1 Update over the QuadStore.

The reference serves these via Fuseki HTTP endpoints (fuseki:update and
fuseki:gsp-rw wired in config-connector.ttl:14-17) while deliberately
rejecting updates over the Kafka stream (CHANGELOG.md:177-181 — effects
would depend on receiver state).  We keep that split: this module is the
HTTP-side mutation surface, applied directly to the store in one commit per
update request; the Kafka/streaming path accepts only data + patches.

Supported update forms:
  INSERT DATA { quads }         DELETE DATA { quads }
  DELETE WHERE { pattern }
  [WITH <g>] DELETE { tmpl } INSERT { tmpl } [USING [NAMED] <g>]* WHERE { pattern }
  CLEAR GRAPH <g> | DEFAULT | NAMED | ALL             DROP = CLEAR
  LOAD [SILENT] <doc-iri> [INTO GRAPH <g>]   (file:// or http(s)://; syntax
    by extension: .nt .nq .ttl .trig .jsonld .rdf)
  CREATE [SILENT] GRAPH <g>   (no-op: a quad set has no empty graphs, same
    as Fuseki TDB)
  ADD | COPY | MOVE [SILENT] (DEFAULT | [GRAPH] <g>) TO (DEFAULT | [GRAPH] <g>)
  multiple operations separated by ';' apply atomically (one commit) with
  SPARQL 1.1 sequential semantics: each operation evaluates against the
  accumulated logical state (store minus pending deletes plus pending
  adds), so 'INSERT DATA { q }; DELETE DATA { q }' leaves q absent and a
  DELETE WHERE sees quads inserted earlier in the same request

A WHERE gets a query's translator (``SparqlEngine.translator``) over the
request's ``_Pending`` state, a quad source like a store ``Snapshot``: the
same subject-pruned, one-task-on-a-small-store plans as a query.  On a
small store, while the pending state is still driver rows, a WHERE inside
``arrow_eval``'s fragment runs on the driver instead, with no Spark job.

Every other HTTP write goes through the same path: the server turns a
Graph Store Protocol PUT / POST / DELETE or an RDF Patch into a short list
of operations for ``UpdateEngine.apply`` (see there), so a PATCH
``A q . D q .`` leaves q absent, as the ingest projector's last-op-wins
does for the same patch from Kafka.
"""

from __future__ import annotations

import hashlib
import uuid
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..checkpointing import stable_checkpoint
from ..model import DEFAULT_GRAPH, QUAD_COLS, RdfParseError
from ..rdf.content_types import parse_payload
from ..store import QuadStore, quad_frame
from ..store.quadstore import _anti_join_quads, _arrow_table
from . import arrow_eval
from .ast import BGP
from .engine import SparqlEngine
from .parser import SparqlParser


class _UpdateParser(SparqlParser):
    """Extends the query parser with update-request grammar."""

    def parse_update(self) -> list[tuple]:
        ops: list[tuple] = []
        while self.peek_kw("prefix") or self.peek_kw("base"):
            kw = self.next().lower()
            if kw == "prefix":
                pname = self.next()
                self.prefixes[pname[:-1]] = self._iri_value(self.next())
            else:
                self.base = self._iri_value(self.next())
        while self.peek() is not None:
            t = self.peek().lower()
            if t == "with":
                # Modify ::= ('WITH' iri)? (DeleteClause InsertClause? |
                # InsertClause) UsingClause* 'WHERE' GGP  (SPARQL 1.1 Update
                # grammar [41]); WITH scopes both templates and pattern.
                self.next()
                wg = self._var_or_iri()
                if wg[0] != "iri":
                    raise RdfParseError("WITH requires an IRI")
                nxt = (self.peek() or "").lower()
                if nxt == "insert":
                    self.next()
                    ops.append(self._modify(None, with_graph=wg[1]))
                elif nxt == "delete":
                    self.next()
                    if self.peek_kw("where"):
                        raise RdfParseError("WITH cannot precede DELETE WHERE")
                    ops.append(self._modify(self._quad_template(), with_graph=wg[1]))
                else:
                    raise RdfParseError("WITH must precede DELETE/INSERT ... WHERE")
            elif t == "insert":
                self.next()
                if self.peek_kw("data"):
                    self.next()
                    ops.append(("insert_data", self._quad_template()))
                else:
                    ops.append(self._modify(None))
            elif t == "delete":
                self.next()
                if self.peek_kw("data"):
                    self.next()
                    data = self._quad_template()
                    for s, p, o, g in data:
                        if s[0] == "var" or p[0] == "var" or o[0] == "var":
                            raise RdfParseError("DELETE DATA cannot contain variables")
                    ops.append(("delete_data", data))
                elif self.peek_kw("where"):
                    self.next()
                    pattern = self._group_graph_pattern()
                    quads = _quad_pattern_quads(pattern)
                    if quads is None:
                        raise RdfParseError(
                            "DELETE WHERE requires a quad pattern "
                            "(triples and GRAPH groups only)"
                        )
                    ops.append(("modify", quads, None, pattern, None, (), ()))
                else:
                    ops.append(self._modify(self._quad_template()))
            elif t == "load":
                self.next()
                silent = False
                if self.peek_kw("silent"):
                    self.next()
                    silent = True
                src = self._var_or_iri()
                if src[0] != "iri":
                    raise RdfParseError("LOAD requires a document IRI")
                into = None
                if self.peek_kw("into"):
                    self.next()
                    self.expect("graph")
                    g = self._var_or_iri()
                    if g[0] != "iri":
                        raise RdfParseError("LOAD INTO GRAPH requires an IRI")
                    into = g[1]
                ops.append(("load", silent, src[1], into))
            elif t == "create":
                self.next()
                if self.peek_kw("silent"):
                    self.next()
                self.expect("graph")
                g = self._var_or_iri()
                if g[0] != "iri":
                    raise RdfParseError("CREATE GRAPH requires an IRI")
                ops.append(("create", g[1]))
            elif t in ("add", "copy", "move"):
                self.next()
                if self.peek_kw("silent"):
                    self.next()
                src = self._graph_or_default()
                self.expect("to")
                dst = self._graph_or_default()
                ops.append((t, src, dst))
            elif t in ("clear", "drop"):
                self.next()
                if self.peek_kw("silent"):
                    self.next()
                target = self.next().lower()
                if target == "graph":
                    g = self._var_or_iri()
                    if g[0] != "iri":
                        raise RdfParseError("CLEAR GRAPH requires an IRI")
                    ops.append(("clear", g[1]))
                elif target == "default":
                    ops.append(("clear", DEFAULT_GRAPH))
                elif target in ("named", "all"):
                    ops.append((f"clear_{target}",))
                else:
                    raise RdfParseError(f"bad CLEAR target {target!r}")
            elif t == ";":
                self.next()
            else:
                raise RdfParseError(f"unsupported update operation {t!r}")
        return ops

    def _modify(self, del_tmpl, with_graph: str | None = None) -> tuple:
        """Parse the rest of a Modify op: [INSERT {tmpl}] USING* WHERE GGP.

        Called with ``del_tmpl`` already parsed (None when the op started
        with INSERT).  Returns the 7-tuple modify op: (kind, del_tmpl,
        ins_tmpl, pattern, with_graph, using, using_named).
        """
        ins_tmpl = None
        if del_tmpl is None:
            ins_tmpl = self._quad_template()
        elif self.peek_kw("insert"):
            self.next()
            ins_tmpl = self._quad_template()
        using: list[str] = []
        using_named: list[str] = []
        while self.peek_kw("using"):
            self.next()
            named = False
            if self.peek_kw("named"):
                self.next()
                named = True
            g = self._var_or_iri()
            if g[0] != "iri":
                raise RdfParseError("USING requires an IRI")
            (using_named if named else using).append(g[1])
        self.expect("where")
        pattern = self._group_graph_pattern()
        return (
            "modify", del_tmpl, ins_tmpl, pattern,
            with_graph, tuple(using), tuple(using_named),
        )

    def _graph_or_default(self):
        """GraphOrDefault ::= 'DEFAULT' | 'GRAPH'? iri — returns None for
        the default graph, else the graph IRI string."""
        if self.peek_kw("default"):
            self.next()
            return None
        if self.peek_kw("graph"):
            self.next()
        g = self._var_or_iri()
        if g[0] != "iri":
            raise RdfParseError("ADD/COPY/MOVE requires DEFAULT or a graph IRI")
        return g[1]


def _quad_pattern_quads(pattern):
    """Flatten a DELETE WHERE group into its quad list, or None.

    SPARQL 1.1 Update §3.1.3.3: the DELETE WHERE shorthand takes a
    QuadPattern — plain triples plus GRAPH groups (the graph may be a
    variable, which then binds per matched quad) — and the SAME pattern
    doubles as both the WHERE clause and the delete template.  Any other
    operator in the group (FILTER, OPTIONAL, UNION, subselect) means it
    is not a QuadPattern and the shorthand does not apply."""
    from .ast import GraphPattern, Join

    if isinstance(pattern, BGP):
        return list(pattern.triples)
    if isinstance(pattern, GraphPattern):
        inner = _quad_pattern_quads(pattern.pattern)
        if inner is None or any(g is not None for _, _, _, g in inner):
            return None
        return [(s, p, o, pattern.graph) for s, p, o, _ in inner]
    if isinstance(pattern, Join):
        left = _quad_pattern_quads(pattern.left)
        right = _quad_pattern_quads(pattern.right)
        if left is None or right is None:
            return None
        return left + right
    return None


class _Pending:
    """A request's pending net effect, and the quad source its operations
    read (``SparqlEngine`` takes it like a store ``Snapshot``).  Every
    operation evaluates against ``scan()`` = the snapshot MINUS pending
    deletes UNION pending adds (SPARQL 1.1 sequential semantics), and the
    request ends in one store commit.

    The state starts as driver-side rows — graphs cleared in full, quads
    deleted, quads inserted: the order the store commit applies them — and
    switches to DataFrames, for the rest of the request, at the first
    operation whose quads are not collected on the driver (ADD/COPY/MOVE,
    CLEAR NAMED/ALL, a WHERE whose bindings overflow the probe, a bnode
    INSERT template).  Both forms are kept net (inserting a quad removes it
    from the pending deletes and vice versa), so no quad is ever in both
    and the commit's delete-then-add order is safe.

    ``scan(subject)`` reads the snapshot's bucket of ``subject``, and
    ``small`` is the snapshot's: the pending adds join its one partition.
    While the state is rows, ``arrow(filter)`` is the same view read on
    the driver, for ``arrow_eval``.
    Joins against the driver-resident rows broadcast them; joins between
    DataFrames carry no hint, so Spark sizes them, and the store sizes its
    commit joins from the rows it counts.  The snapshot is pinned until
    ``release()``: the commit may still scan it."""

    def __init__(self, spark: SparkSession, store: QuadStore):
        self.spark = spark
        self.store = store
        self._snapshot = None
        self.graphs: set[str] = set()
        self.dels: dict[tuple, None] = {}
        self.adds: dict[tuple, None] = {}
        self.frames = False
        self.del_df: DataFrame | None = None
        self.add_df: DataFrame | None = None

    def _pinned(self):
        if self._snapshot is None:
            self._snapshot = self.store.snapshot(self.spark)
        return self._snapshot

    @property
    def small(self) -> bool:
        return self._pinned().small

    def release(self) -> None:
        if self._snapshot is not None:
            self._snapshot.release()

    def scan(self, subject: str | None = None) -> DataFrame:
        v = self._pinned().scan(subject)
        dels, adds = self.del_df, self.add_df
        if not self.frames:
            if self.graphs:
                v = v.filter(~F.col("graph").isin(sorted(self.graphs)))
            dels = quad_frame(self.spark, list(self.dels)) if self.dels else None
            adds = quad_frame(self.spark, list(self.adds)) if self.adds else None
        if dels is not None:
            v = _anti_join_quads(v, dels, broadcast_right=not self.frames)
        if adds is not None:
            v = v.unionByName(adds)
            v = (v.coalesce(1) if self.small else v).dropDuplicates(QUAD_COLS)
        return v

    def arrow(self, filter=None, subject: str | None = None):
        """The quads of ``scan(subject)`` that match ``filter`` (a
        ``pyarrow.dataset`` expression) as one pyarrow table, read on the
        driver while the state is rows: the snapshot's ``arrow`` without
        the cleared graphs and the deleted quads (tuple equality is
        null-safe, as in the store's driver commit), plus the adds it does
        not hold.  Only rows sharing a subject with a pending delete or
        add leave Arrow."""
        import pyarrow as pa
        import pyarrow.compute as pc

        t = self._pinned().arrow(filter, subject)
        if self.graphs:
            cleared = pa.array(sorted(self.graphs), pa.string())
            t = t.filter(pc.invert(pc.is_in(t["graph"], value_set=cleared)))
        subjects = {r[1] for r in (*self.dels, *self.adds)}
        if not subjects:
            return t
        near = pc.is_in(t["subject"], value_set=pa.array(sorted(subjects), pa.string()))
        rows = list(zip(*(t.filter(near).column(c).to_pylist() for c in QUAD_COLS)))
        have = set(rows)
        adds = _arrow_table([r for r in self.adds if r not in have])
        return pa.concat_tables([
            t.filter(pc.invert(near)),
            _arrow_table([r for r in rows if r not in self.dels]),
            adds if filter is None else adds.filter(filter),
        ])

    # -- rows -------------------------------------------------------------
    def insert_rows(self, rows: list[tuple]) -> None:
        if self.frames:
            return self.insert_df(quad_frame(self.spark, rows))
        for r in rows:
            self.dels.pop(r, None)
            self.adds[r] = None

    def delete_rows(self, rows: list[tuple]) -> None:
        if self.frames:
            return self.delete_df(quad_frame(self.spark, rows))
        for r in rows:
            self.adds.pop(r, None)
            self.dels[r] = None

    def clear_graph(self, graph: str) -> None:
        if self.frames:
            return self.delete_df(self.scan().filter(F.col("graph") == graph))
        self.graphs.add(graph)
        self.adds = {r: None for r in self.adds if r[0] != graph}

    # -- DataFrames -------------------------------------------------------
    def _to_frames(self) -> None:
        if self.frames:
            return
        parts = []
        if self.graphs:
            parts.append(self._pinned().scan().filter(F.col("graph").isin(sorted(self.graphs))))
        if self.dels:
            parts.append(quad_frame(self.spark, list(self.dels)))
        self.del_df = reduce(DataFrame.unionByName, parts) if parts else None
        self.add_df = quad_frame(self.spark, list(self.adds)) if self.adds else None
        self.frames = True

    def insert_df(self, df: DataFrame) -> None:
        self._to_frames()
        df = df.select(*QUAD_COLS)
        if self.del_df is not None:
            self.del_df = _anti_join_quads(self.del_df, df)
        self.add_df = (
            df if self.add_df is None
            else self.add_df.unionByName(df).dropDuplicates(QUAD_COLS)
        )

    def delete_df(self, df: DataFrame) -> None:
        self._to_frames()
        df = df.select(*QUAD_COLS)
        if self.add_df is not None:
            self.add_df = _anti_join_quads(self.add_df, df)
        self.del_df = (
            df if self.del_df is None
            else self.del_df.unionByName(df).dropDuplicates(QUAD_COLS)
        )

    # -- commit -----------------------------------------------------------
    def commit(self, txn_id: str | None) -> int:
        if self.frames:
            return self.store.commit(
                self.spark, adds=self.add_df, deletes=self.del_df, txn_id=txn_id
            )
        deletes = [(g,) for g in sorted(self.graphs)] + list(self.dels)
        return self.store.commit(
            self.spark, adds=list(self.adds), deletes=deletes, txn_id=txn_id
        )


def _has_bnode(tmpl) -> bool:
    return any(t is not None and t[0] == "bnode" for quad in tmpl for t in quad)


def _instantiate_rows(solutions: list, template: list) -> list[tuple]:
    """Driver twin of ``Translator._instantiate`` for a bnode-free
    template over collected bindings: the same quads, as row tuples.  A
    solution maps a variable to its (kind, value, datatype, lang) binding;
    a template quad with an unbound variable is skipped (SPARQL 1.1
    Update §3.1.3)."""
    out: dict[tuple, None] = {}
    for b in solutions:

        def value(t):
            if t[0] != "var":
                return t[1]
            v = b.get(t[1])
            return None if v is None else v["value"]

        for s, p, o, g in template:
            if o[0] == "var":
                v = b.get(o[1])
                obj = (
                    (None,) * 4 if v is None
                    else (v["kind"], v["value"], v["datatype"] or None, v["lang"] or None)
                )
            elif o[0] == "literal":
                obj = ("literal", o[1], o[2] or None, o[3] or None)
            else:
                obj = (o[0], o[1], None, None)
            row = (DEFAULT_GRAPH if g is None else value(g), value(s), value(p)) + obj
            if None not in row[:5]:
                out[row] = None
    return list(out)


def document_rows(payload, content_type: str | None, into: str | None, bnode_suffix: str) -> list[tuple]:
    """The distinct quad rows of an RDF document: a Graph Store Protocol
    body or a LOADed file.  With ``into`` None each quad keeps its graph;
    otherwise every quad goes to ``into``.  A document that deletes (an
    RDF Patch with D rows) raises RdfParseError: a 400 over HTTP."""
    rows: dict[tuple, None] = {}
    for op, g, *quad in parse_payload(payload, content_type, bnode_suffix=bnode_suffix):
        if op != "A":
            raise RdfParseError("an RDF document must not contain deletes")
        rows[(g if into is None else into, *quad)] = None
    return list(rows)


class UpdateEngine:
    def __init__(self, spark: SparkSession, store: QuadStore, on_where=None):
        """``on_where(driver)``, when given, is told of every WHERE this
        engine evaluates: True when it ran on the driver, False on Spark."""
        self.spark = spark
        self.store = store
        self.on_where = on_where

    # ------------------------------------------------------------ update
    def update(
        self,
        text: str,
        txn_id: str | None = None,
        protocol_dataset: tuple | None = None,
    ) -> dict:
        """Apply a SPARQL Update request atomically (one store commit),
        sequentially within the request (see ``apply``).

        ``protocol_dataset`` = (using_iris, using_named_iris) carries the
        SPARQL 1.1 Protocol ``using-graph-uri``/``using-named-graph-uri``
        parameters; per Protocol §2.2.3 it is an ERROR to combine them
        with an operation that has its own USING/WITH clause."""
        ops = _UpdateParser(text).parse_update()
        if protocol_dataset is not None:
            for op in ops:
                if op[0] == "modify" and (op[4] is not None or op[5] or op[6]):
                    raise RdfParseError(
                        "using-graph-uri parameters cannot be combined with "
                        "an update containing USING or WITH (SPARQL 1.1 "
                        "Protocol §2.2.3)"
                    )
        return {"version": self.apply(ops, txn_id, protocol_dataset)}

    def apply(self, ops: list[tuple], txn_id: str | None = None, protocol_dataset=None) -> int:
        """Evaluate update operations in order against one ``_Pending``
        state and commit their net effect in one ``QuadStore.commit``;
        returns the new version.  The operations are those the parser
        makes, plus one per RDF Patch row, ``("A", *row)`` / ``("D",
        *row)``, with which the server writes GSP bodies and patches.
        INSERT DATA, DELETE DATA, LOAD, CLEAR GRAPH/DEFAULT, patch rows
        and a WHERE whose bindings fit ``DRIVER_COMMIT_ROWS`` stay rows,
        so on a small store the request commits without a Spark job
        beyond the WHERE evaluation."""
        pending = _Pending(self.spark, self.store)
        # per-operation bnode-freshness seed (INSERT DATA, LOAD, templates):
        # deterministic under txn_id (crash-replay re-derives the same
        # labels; idempotent commit no-ops), random otherwise (plain
        # per-execution freshness), distinct per operation, so "LOAD <d>;
        # LOAD <d>" mints two sets of bnodes
        req_seed = txn_id if txn_id is not None else uuid.uuid4().hex

        def _op_suffix(op_index: int) -> str:
            return hashlib.md5(f"{req_seed}|op{op_index}".encode()).hexdigest()[:12]

        try:
            for op_index, op in enumerate(ops):
                kind = op[0]
                if kind in ("A", "D"):
                    (pending.insert_rows if kind == "A" else pending.delete_rows)([op[1:]])
                elif kind == "insert_data":
                    pending.insert_rows(self._const_rows(op[1], bnode_suffix=_op_suffix(op_index)))
                elif kind == "delete_data":
                    if _has_bnode(op[1]):
                        # SPARQL 1.1 Update §3.1.2: bnodes are disallowed in
                        # DELETE DATA (they could never denote a stored node)
                        raise RdfParseError("DELETE DATA must not contain blank nodes")
                    pending.delete_rows(self._const_rows(op[1]))
                elif kind == "clear":
                    pending.clear_graph(op[1])
                elif kind == "clear_named":
                    pending.delete_df(pending.scan().filter(F.col("graph") != DEFAULT_GRAPH))
                elif kind == "clear_all":
                    pending.delete_df(pending.scan())
                elif kind == "load":
                    silent, src, into = op[1], op[2], op[3]
                    try:
                        rows = self._load_rows(src, into, _op_suffix(op_index))
                    except Exception:
                        if silent:
                            continue
                        raise
                    pending.insert_rows(rows)
                elif kind == "create":
                    pass  # a quad set has no empty graphs (same as Fuseki TDB)
                elif kind in ("add", "copy", "move"):
                    src, dst = op[1], op[2]
                    if src == dst:
                        continue  # spec: same graph is a no-op for all three
                    src_g = DEFAULT_GRAPH if src is None else src
                    dst_g = DEFAULT_GRAPH if dst is None else dst
                    # build the source selection against the pre-op state
                    # BEFORE mutating pending sets (DataFrames capture the
                    # plan now)
                    quads = pending.scan()
                    moved = (
                        quads.filter(F.col("graph") == src_g)
                        .withColumn("graph", F.lit(dst_g))
                    )
                    if kind in ("copy", "move"):
                        pending.delete_df(quads.filter(F.col("graph") == dst_g))
                    if kind == "move":
                        pending.delete_df(quads.filter(F.col("graph") == src_g))
                    pending.insert_df(moved)
                elif kind == "modify":
                    self._modify(pending, op, protocol_dataset, _op_suffix(op_index))
            return pending.commit(txn_id)
        finally:
            pending.release()

    def _modify(self, pending: _Pending, op: tuple, protocol_dataset, bnode_suffix: str):
        """DELETE/INSERT ... WHERE: evaluate the pattern once over the
        pending state and instantiate both templates from the same
        bindings.  A pattern in ``arrow_eval``'s fragment, over a small
        store whose pending state is still rows, is evaluated on the
        driver (unless a join would hold more than ``SMALL_COMMIT_ROWS``
        solutions); when its bindings fit ``DRIVER_COMMIT_ROWS`` they
        instantiate there with no Spark job.  Otherwise the pattern goes
        through the translator a query gets."""
        del_tmpl, ins_tmpl, pattern = op[1], op[2], op[3]
        with_graph, using, using_named = op[4], op[5], op[6]
        if del_tmpl and _has_bnode(del_tmpl):
            # §3.1.3: DELETE templates must not contain bnodes
            raise RdfParseError("DELETE template must not contain blank nodes")
        if protocol_dataset is not None:
            using, using_named = protocol_dataset
        # WITH scopes unqualified template quads and (absent USING) the
        # WHERE pattern's default graph (SPARQL 1.1 Update §3.1.3)
        wg = None if with_graph is None else ("iri", with_graph)
        if wg is not None:
            if del_tmpl:
                del_tmpl = [(s, p, o, g or wg) for s, p, o, g in del_tmpl]
            if ins_tmpl:
                ins_tmpl = [(s, p, o, g or wg) for s, p, o, g in ins_tmpl]
        # USING builds the pattern's dataset as FROM does a query's:
        # default graph := merge of the USING graphs, named graphs := the
        # USING NAMED set; WITH is then ignored for the pattern
        ds = (using, using_named) if using or using_named else None
        cap = self.store.DRIVER_COMMIT_ROWS
        solutions = df = None
        if cap >= 0 and not (ins_tmpl and _has_bnode(ins_tmpl)):
            plan = None
            if ds is None and not pending.frames and pending.small:
                plan = arrow_eval.plan_pattern(pattern, wg)
            if plan is not None:
                try:
                    table = plan.run(pending, self.store.SMALL_COMMIT_ROWS)
                except arrow_eval.TooLarge:
                    plan = None
            if plan is not None:
                if table.num_rows <= cap:
                    solutions = list(arrow_eval.solutions(table, plan.vars))
            else:
                # probe the binding set with one bounded collect: when it
                # fits, the bindings are request-sized and instantiate on
                # the driver
                translator = SparqlEngine(pending).translator(ds)
                df = translator._pattern(pattern, graph=None if ds else wg)
                rows = df.limit(cap + 1).collect()
                if len(rows) <= cap:
                    solutions = [r.asDict() for r in rows]
        if self.on_where is not None:
            self.on_where(solutions is not None and df is None)
        if solutions is not None:
            if del_tmpl:
                pending.delete_rows(_instantiate_rows(solutions, del_tmpl))
            if ins_tmpl:
                pending.insert_rows(_instantiate_rows(solutions, ins_tmpl))
            return
        if df is None:
            translator = SparqlEngine(pending).translator(ds)
            df = translator._pattern(pattern, graph=None if ds else wg)
        # materialize the bindings once: the commit reads its deletes and
        # adds more than once (row counts, then the joins and the write),
        # later ops' anti-joins would re-evaluate the whole pattern lineage,
        # and on a small store each evaluation is one task.  Eager when
        # both templates instantiate from it, else by the first action
        df = stable_checkpoint(df, eager=bool(del_tmpl and ins_tmpl))
        # a bnode label is <label>-<op suffix>-<hex xxhash64 of the solution>
        if del_tmpl:
            pending.delete_df(translator._instantiate(df, del_tmpl, f"-{bnode_suffix}-"))
        if ins_tmpl:
            pending.insert_df(translator._instantiate(df, ins_tmpl, f"-{bnode_suffix}-"))

    _LOAD_SUFFIXES = {
        ".nt": "application/n-triples",
        ".nq": "application/n-quads",
        ".ttl": "text/turtle",
        ".trig": "application/trig",
        ".jsonld": "application/ld+json",
        ".json": "application/ld+json",
        ".rdf": "application/rdf+xml",
        ".xml": "application/rdf+xml",
    }

    def _load_rows(self, iri: str, into: str | None, bnode_suffix: str) -> list[tuple]:
        """LOAD <iri> [INTO GRAPH <g>]: fetch + parse an RDF document into
        quad rows (``document_rows``).

        file:// and http(s):// IRIs; syntax chosen by file extension
        (NQuads default, matching the package's Kafka-payload default).
        With INTO GRAPH, every parsed quad lands in the target graph
        (Fuseki pours the document into the single target graph).
        SPARQL/Jena semantics mint fresh bnodes per LOAD execution (a
        re-LOAD doubles bnode-rooted structures): ``bnode_suffix`` is the
        operation's seed (see ``apply``)."""
        import urllib.request
        from urllib.parse import urlparse

        parsed = urlparse(iri)
        if parsed.scheme == "file":
            with open(parsed.path, "rb") as f:
                payload = f.read()
        elif parsed.scheme in ("http", "https"):
            with urllib.request.urlopen(iri, timeout=60) as resp:
                payload = resp.read()
        else:
            raise RdfParseError(f"LOAD: unsupported IRI scheme {parsed.scheme!r}")
        path = parsed.path.lower()
        ct = next(
            (v for k, v in self._LOAD_SUFFIXES.items() if path.endswith(k)),
            "application/n-quads",
        )
        return document_rows(payload, ct, into, bnode_suffix)

    def _const_rows(self, quads: list, bnode_suffix: str | None = None) -> list[tuple]:
        """Constant quads from INSERT DATA / DELETE DATA templates.

        ``bnode_suffix`` (INSERT DATA only) makes bnode labels fresh per
        operation execution — SPARQL 1.1 Update §3.1.1: re-running
        ``INSERT DATA { ex:a ex:p [] }`` adds a NEW bnode each time, so a
        shared label must not collapse under set semantics.  Like LOAD,
        the suffix derives from (txn_id, op index): crash-replay of the
        same request re-derives the same labels and the idempotent commit
        drops the re-apply."""

        def fresh(term):
            if bnode_suffix is not None and term[0] == "bnode":
                return f"{term[1]}-{bnode_suffix}"
            return term[1]

        rows = []
        for s, p, o, g in quads:
            graph = g[1] if g is not None else DEFAULT_GRAPH
            if o[0] == "literal":
                rows.append((graph, fresh(s), p[1], "literal", o[1], o[2], o[3]))
            else:
                rows.append((graph, fresh(s), p[1], o[0], fresh(o), None, None))
        return rows
