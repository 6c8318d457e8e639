"""SparqlEngine: the user-facing query entry point over a quad DataFrame.

Mirrors the read side of the reference contract (SURVEY.md §3.2): where the
reference populates a DatasetGraph and lets Fuseki/ARQ serve SPARQL over
HTTP, this engine takes the quad table (a QuadStore snapshot or any
DataFrame in QUAD_SCHEMA) and answers SPARQL directly as DataFrame plans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..model import DEFAULT_GRAPH, QUAD_COLS
from ..store import QuadStore, Snapshot
from .ast import AskQuery, ConstructQuery, SelectQuery
from .parser import parse_sparql
from .translate import Translator


class SparqlEngine:
    def __init__(self, quads, max_path_iterations: int = 256):
        """``quads`` is any DataFrame in QUAD_SCHEMA or a quad source with
        ``scan(subject=None)`` and ``small``: a store ``Snapshot``, or an
        update request's pending state.  Over a snapshot a constant-subject
        pattern scans only the leaves of its subject's bucket, and on a
        small one the query runs as one task (see ``Translator``)."""
        if isinstance(quads, DataFrame):
            missing = [c for c in QUAD_COLS if c not in quads.columns]
            if missing:
                raise ValueError(f"quads DataFrame missing columns: {missing}")
        self.source = quads
        self.snapshot = quads if isinstance(quads, Snapshot) else None
        self.max_path_iterations = max_path_iterations

    @classmethod
    def from_store(cls, spark, store: QuadStore, **kw) -> "SparqlEngine":
        """Engine over the store's current snapshot: every pattern of a
        query scans that one version's leaves, which stay on disk while
        the engine lives (or until ``engine.snapshot.release()``)."""
        return cls(store.snapshot(spark), **kw)

    def query(self, text: str, dataset: tuple | None = None):
        """Run a SPARQL query.

        SELECT    -> DataFrame with one struct column per projected variable
                     (fields kind/value/datatype/lang)
        ASK       -> bool
        CONSTRUCT -> DataFrame in QUAD_SCHEMA

        ``dataset`` = (default_iris, named_iris) overrides any FROM /
        FROM NAMED clauses in the query — the SPARQL 1.1 Protocol rule for
        ``default-graph-uri`` / ``named-graph-uri`` parameters.
        """
        return self.query_typed(text, dataset=dataset)[1]

    def query_typed(self, text: str, dataset: tuple | None = None):
        """Like :meth:`query`, but returns ``(ast, result)`` so callers can
        branch on the parsed query form (SELECT vs CONSTRUCT/DESCRIBE) —
        e.g. for HTTP serialization, where inferring the form from result
        column names mis-serializes a SELECT that happens to project
        variables named like the quad columns."""
        ast = parse_sparql(text)
        ds = dataset if dataset is not None else getattr(ast, "dataset", None)
        df = self.translator(ds).translate(ast)
        if isinstance(ast, AskQuery):
            return ast, df.count() > 0
        return ast, _sparql_names(df, ast)

    def translator(self, ds: tuple | None) -> Translator:
        """Every translator is made here, for queries and update WHEREs:
        over the dataset ``ds`` = (default_iris, named_iris), or the
        source's own when None; a subject-pruned scan is scoped alike."""
        return Translator(_Scoped(self.source, ds), self.max_path_iterations)

    def select_values(self, text: str, dataset: tuple | None = None) -> DataFrame:
        """SELECT with result columns flattened to their lexical values
        (plain string columns) — convenient for tests and SQL interop."""
        ast = parse_sparql(text)
        if not isinstance(ast, SelectQuery):
            raise ValueError("select_values requires a SELECT query")
        ds = dataset if dataset is not None else ast.dataset
        df = self.translator(ds).translate(ast)
        return _sparql_names(df.select(*[F.col(c)["value"].alias(c) for c in df.columns]), ast)


class _Scoped:
    """A quad source seen through a query dataset (``_scope_dataset``).  A
    bare DataFrame is a source whose every scan is all of it, in Spark's
    own partitioning."""

    def __init__(self, source, ds: tuple | None):
        self.source, self.ds = source, ds
        self.small = not isinstance(source, DataFrame) and source.small

    def scan(self, subject: str | None = None) -> DataFrame:
        frame = isinstance(self.source, DataFrame)
        return _scope_dataset(self.source if frame else self.source.scan(subject), self.ds)


def _sparql_names(df: DataFrame, ast) -> DataFrame:
    """``df`` with the columns of variables the parser renamed apart under
    their SPARQL names again.  ``toDF`` renames by position, so ``s`` and
    ``S`` can then sit side by side in the result."""
    names = getattr(ast, "var_names", None)
    return df.toDF(*(names.get(c, c) for c in df.columns)) if names else df


def _scope_dataset(quads: DataFrame, ds: tuple | None) -> DataFrame:
    """Build the query dataset per SPARQL 1.1 §13.2: default graph :=
    merge of the FROM graphs (set-union; empty when none named), named
    graphs := exactly the FROM NAMED set.  One narrow filter + relabel per
    part — the graph filters push to the parquet scan, so a FROM over one
    named graph reads only that graph at scale."""
    if ds is None:
        return quads
    default_iris, named_iris = ds
    parts = []
    if default_iris:
        merged = quads.filter(F.col("graph").isin(list(default_iris))).withColumn(
            "graph", F.lit(DEFAULT_GRAPH)
        )
        if len(default_iris) > 1:  # single graph: already a set, skip the shuffle
            merged = merged.dropDuplicates(QUAD_COLS)
        parts.append(merged)
    if named_iris:
        parts.append(quads.filter(F.col("graph").isin(list(named_iris))))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
