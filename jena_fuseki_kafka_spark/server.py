"""HTTP facade: the four Fuseki service operations over a QuadStore.

The reference's serving contract wires exactly these endpoints per
dataset (config-connector.ttl:14-17 — ``fuseki:query``,
``fuseki:update``, ``fuseki:gsp-rw``, ``fuseki:patch``), and its e2e
tests verify ingestion by running SPARQL over HTTP
(DockerTestConfigFK.java:392-397).  This module serves the same four
operations over the engine:

  GET/POST  /{ds}/query   SPARQL Query (param, form, or raw body);
                          SELECT/ASK -> SPARQL results JSON,
                          CONSTRUCT/DESCRIBE -> N-Quads
  POST      /{ds}/update  SPARQL Update (form or raw body)
  GET       /{ds}/data    Graph Store Protocol read (?graph=<iri>|default;
                          omitted -> whole dataset)
  PUT/POST  /{ds}/data    GSP replace / merge into a graph (RDF body,
                          Content-Type selects the parser)
  DELETE    /{ds}/data    GSP drop graph
  PATCH     /{ds}/patch   RDF Patch body applied transactionally
  POST      /{ds}/patch   (same, for clients that can't send PATCH)

and two of Fuseki's admin endpoints for the whole server:

  GET       /$/ping       200 with the current time (liveness)
  GET       /$/stats      JSON: each dataset's ``QuadStore.stats()``

Single-process by design: this is the driver-side control surface (like
Fuseki's HTTP layer in front of the store), not a data-plane service.
A query runs as Spark jobs on the cluster that write its result under
the store's ``_results`` directory before the status line is sent; the
body is then streamed from those files and they are removed.  On a small
store that is one job.  Over ``SMALL_COMMIT_ROWS`` each shuffle stage of
the plan is its own job, and a read in a subject-grouped syntax (Turtle,
TriG, JSON-LD, RDF/XML) first sorts with ``orderBy("graph", "subject")``,
which adds two: the range-partition sample and the sort's shuffle.  So a
GSP GET in Turtle costs 3 jobs there, and a CONSTRUCT in Turtle 4.
A GSP read of a small store (``Snapshot.small``) runs no Spark job: the
driver reads the graph's rows with pyarrow before the status line.
Every write is one ordered update transaction through
``UpdateEngine``: a SPARQL Update as parsed, a GSP PUT as "clear the
graph, insert the body's quads", a POST as the insert, a GSP DELETE as
the clear, and a PATCH as its A/D rows in order.  Its one
``QuadStore.commit`` applies a request-sized write to a small store on
the driver without a Spark job, and everything else as Spark jobs.
"""

from __future__ import annotations

import json
import logging
import os
import shutil
import threading
import uuid
import weakref
from datetime import datetime, timezone
from functools import partial
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from pyspark.sql import SparkSession, functions as F

from .model import DEFAULT_GRAPH, QUAD_COLS, RdfParseError
from .rdf.content_types import parse_payload
from .rdf.serialize import (
    iter_nquads,
    negotiate_dataset_streamer,
    negotiate_graph_streamer,
    negotiate_results_streamer,
)
from .sparql import SparqlEngine
from .sparql.ast import ConstructQuery, DescribeQuery
from .sparql.update import UpdateEngine, document_rows
from .store import QuadStore

_JSON = "application/sparql-results+json"

_log = logging.getLogger(__name__)

# rows per Arrow batch read back from a result's parquet files: the
# driver holds one batch of the result at a time
RESULT_BATCH_ROWS = 8192


class _ResultRow(dict):
    """One result row: ``row[name]`` (SELECT serializers) and
    ``row.name`` (quad serializers) both read a column."""

    __slots__ = ()

    def __getattr__(self, name):
        try:
            return self[name]
        except KeyError:
            raise AttributeError(name) from None


def _part_order(name: str):
    # part-<partition>-<uuid>-c<file>.<codec>.parquet
    return int(name.split("-", 2)[1]), name


def _rows(batches, columns: list[str]):
    """Result rows of Arrow record batches, named by ``columns``."""
    for batch in batches:
        for values in zip(*(c.to_pylist() for c in batch.columns)):
            yield _ResultRow(zip(columns, values))


def _read_rows(directory: str, columns: list[str]):
    """Rows of the parquet part files under ``directory``, partition by
    partition, so a sorted DataFrame reads back in its order."""
    import pyarrow.parquet as pq

    parts = sorted(
        (f for f in os.listdir(directory) if f.startswith("part-") and f.endswith(".parquet")),
        key=_part_order,
    )
    for f in parts:
        with pq.ParquetFile(os.path.join(directory, f)) as pf:
            yield from _rows(pf.iter_batches(batch_size=RESULT_BATCH_ROWS), columns)


class _ResultBody:
    """The chunk iterator of one HTTP read.  Constructing it runs the
    read's Spark jobs (one, plus one per shuffle stage and one for a
    distributed ``orderBy``'s range sample): ``df`` is written once as
    parquet under ``<store.path>/_results/<uuid>``, every partition in
    parallel, before the caller sends a status line.  Column names are
    positional (``_0.._n``) on disk, since Spark's case-insensitive
    writer refuses SPARQL's distinct ``?s`` and ``?S``.  Iterating runs
    ``serialize`` over the rows read back from those files, so the body
    depends on neither the store's files nor Spark once headers are out.
    The directory is removed when the body ends, fails or is closed, and
    failing all three when the iterator is collected."""

    def __init__(self, store: QuadStore, df, serialize):
        directory = os.path.join(store.path, "_results", uuid.uuid4().hex)
        columns = df.columns
        self._remove = weakref.finalize(self, shutil.rmtree, directory, True)
        try:
            df.toDF(*(f"_{i}" for i in range(len(columns)))).write.parquet(directory)
        except BaseException:
            self._remove()
            raise
        self._chunks = serialize(_read_rows(directory, columns))

    def __iter__(self):
        return self

    def __next__(self) -> str:
        try:
            return next(self._chunks)
        except BaseException:
            self.close()
            raise

    def close(self) -> None:
        self._chunks.close()
        self._remove()


class NotAcceptable(Exception):
    """Negotiated format cannot represent the requested resource (HTTP 406)."""


class SparqlHttpServer:
    """Serve one or more QuadStores over HTTP.  ``start()`` binds (port 0
    picks a free port) and returns the bound port; ``stop()`` shuts down.

    Multi-dataset: pass ``stores={"ds1": store1, "ds2": store2}`` (the
    Fuseki shape — one server, N dataset services).  ``from_engine``
    exposes every connector's store under its dataset name."""

    def __init__(
        self,
        spark: SparkSession,
        store: QuadStore | None = None,
        dataset: str = "ds",
        stores: dict[str, QuadStore] | None = None,
    ):
        self.spark = spark
        if stores is None:
            if store is None:
                raise ValueError("need store= or stores=")
            stores = {dataset.strip("/"): store}
        self.stores = {name.strip("/"): s for name, s in stores.items()}
        self._httpd: ThreadingHTTPServer | None = None
        self._thread: threading.Thread | None = None

    @classmethod
    def from_engine(cls, engine) -> "SparqlHttpServer":
        """One service per connector dataset (FMod_FusekiKafka wires the
        same: each fk:Connector's dataset gets the four operations)."""
        stores = {}
        for stream in engine.streams.values():
            name = stream.conn.dataset.strip("/").split("/")[-1] or stream.conn.name
            stores[name] = stream.store
        return cls(engine.spark, stores=stores)

    # ------------------------------------------------------------ lifecycle
    def start(self, host: str = "127.0.0.1", port: int = 0) -> int:
        handler = _make_handler(self)
        self._httpd = ThreadingHTTPServer((host, port), handler)
        # HTTP/1.1 keep-alive leaves handler threads parked in recv between
        # requests; don't let them block shutdown
        self._httpd.daemon_threads = True
        self._httpd.block_on_close = False
        self._thread = threading.Thread(target=self._httpd.serve_forever, daemon=True)
        self._thread.start()
        return self._httpd.server_address[1]

    def stop(self) -> None:
        if self._httpd is not None:
            self._httpd.shutdown()
            self._httpd.server_close()
            self._httpd = None

    # ------------------------------------------------------------ operations
    def stats(self) -> dict:
        """The ``/$/stats`` document: each dataset's store layout
        (``QuadStore.stats``), keyed by its service path as Fuseki keys
        it.  Nothing from a connector's configuration is in it."""
        return {"datasets": {f"/{name}": s.stats() for name, s in self.stores.items()}}

    def run_query(
        self,
        store: QuadStore,
        text: str,
        accept: str | None = None,
        dataset: tuple | None = None,
    ):
        """Returns (content_type, chunk_iterator).  The result is computed
        here, before the caller sends a status: its Spark jobs (one on a
        small store; see the module docstring) write it under the store's
        ``_results`` directory (``_ResultBody``), so an execution failure
        raises from this call, and the iterator then streams it off disk
        one Arrow batch at a time.  The HTTP layer writes chunked, so a
        store-sized CONSTRUCT or SELECT never materializes on the driver.

        ``dataset`` carries the SPARQL 1.1 Protocol ``default-graph-uri`` /
        ``named-graph-uri`` parameters, which override FROM clauses.

        The store snapshot the query reads stays pinned until its jobs
        have run, however many commits land meanwhile."""
        engine = SparqlEngine.from_store(self.spark, store)
        try:
            ast, result = engine.query_typed(text, dataset=dataset)
            # branch on the parsed query form, NOT result column names: a
            # SELECT projecting variables named like the quad columns must
            # still serialize as SPARQL results
            if isinstance(ast, (ConstructQuery, DescribeQuery)):
                stream, content_type, _ = negotiate_graph_streamer(accept)
                if stream is not iter_nquads:
                    # subject-grouped syntaxes: distributed sort, written and
                    # read back in partition order, then consecutive runs
                    result = result.orderBy("graph", "subject")
                return content_type, _ResultBody(store, result, stream)
            (select_stream, ask_fn), content_type = negotiate_results_streamer(accept)
            if isinstance(result, bool):
                return content_type, iter((ask_fn(result),))
            return content_type, _ResultBody(store, result, partial(select_stream, result.columns))
        finally:
            engine.snapshot.release()

    def run_update(
        self, store: QuadStore, text: str, dataset: tuple | None = None
    ) -> dict:
        # no txn id: HTTP has no replay contract, and an id would have to
        # stay unique across server restarts to keep the write and its
        # bnode labels fresh
        return UpdateEngine(self.spark, store).update(text, protocol_dataset=dataset)

    def gsp_read(self, store: QuadStore, graph: str | None, accept: str | None = None):
        """Returns (content_type, chunk_iterator), computed before the
        caller sends a status, as in ``run_query``.  ``graph`` is an IRI,
        ``"default"``, or None for the whole dataset.

        A small snapshot (``Snapshot.small``) is read on the driver with
        one ``pyarrow.dataset`` read filtered on the graph, with no Spark
        job and no ``_results`` spill; the read is done and the snapshot
        released before this returns, so a failure still answers 500.  A
        larger one is read by Spark, like a query's result: one job for
        N-Quads.  The subject-grouped syntaxes get their rows sorted by
        (graph, subject) on either path; on the Spark path that sort is a
        distributed ``orderBy``, so the read costs 3 jobs.

        A whole-dataset read in a triple-only syntax (Turtle, RDF/XML)
        would silently flatten named graphs into one graph — dataset
        negotiation skips triple-only preferences (a wildcard picks TriG,
        like Fuseki) and refuses with 406 only when the client insists on
        exclusively lossy formats (the graph= / default cases are fine:
        the client named the one graph it wants)."""
        import pyarrow.dataset as ds

        if graph is None:
            negotiated = negotiate_dataset_streamer(accept)
            if negotiated is None:
                raise NotAcceptable(
                    "none of the requested formats can represent a "
                    "multi-graph dataset; request ?graph=<iri> / ?default, "
                    "or Accept a quad format (application/n-quads, "
                    "application/trig, application/ld+json)"
                )
            stream, content_type = negotiated
        else:
            stream, content_type, _ = negotiate_graph_streamer(accept)
        target = DEFAULT_GRAPH if graph == "default" else graph
        snapshot = store.snapshot(self.spark)
        try:
            if snapshot.small:
                table = snapshot.arrow(None if target is None else ds.field("graph") == target)
                if stream is not iter_nquads:
                    table = table.sort_by([("graph", "ascending"), ("subject", "ascending")])
                return content_type, stream(_rows(table.to_batches(RESULT_BATCH_ROWS), QUAD_COLS))
            df = snapshot.scan()
            if target is not None:
                df = df.filter(F.col("graph") == target)
            if stream is not iter_nquads:
                df = df.orderBy("graph", "subject")
            return content_type, _ResultBody(store, df, stream)
        finally:
            snapshot.release()

    def gsp_write(self, store: QuadStore, body: bytes, content_type: str | None, graph: str | None, replace: bool):
        """GSP PUT (``replace``: clear the target graph, then insert the
        body's quads) or POST (insert them), as one update transaction.
        Returns the number of distinct quads in the body."""
        target = DEFAULT_GRAPH if graph in (None, "default") else graph
        # fresh bnode scope per request: two uploads both saying _:b1
        # describe different nodes (document-scoped labels, like Jena)
        into = None if graph is None else target  # no graph=: quads keep theirs
        rows = document_rows(body, content_type, into, uuid.uuid4().hex[:12])
        ops = [("clear", target)] if replace else []
        UpdateEngine(self.spark, store).apply(ops + [("A", *row) for row in rows])
        return len(rows)

    def gsp_delete(self, store: QuadStore, graph: str | None):
        target = DEFAULT_GRAPH if graph in (None, "default") else graph
        UpdateEngine(self.spark, store).apply([("clear", target)])

    def apply_patch(self, store: QuadStore, body: bytes, content_type: str | None):
        """Apply an RDF Patch's A/D rows in order, as one update
        transaction.  Returns (distinct adds, deletes) in the patch."""
        ops = parse_payload(body, content_type or "application/rdf-patch")
        UpdateEngine(self.spark, store).apply(ops)
        return len({op for op in ops if op[0] == "A"}), sum(op[0] == "D" for op in ops)


def _make_handler(server: SparqlHttpServer):
    class Handler(BaseHTTPRequestHandler):
        # HTTP/1.1 so streamed responses can use chunked transfer encoding
        # (every response sends Content-Length or Transfer-Encoding, as the
        # protocol requires for persistent connections)
        protocol_version = "HTTP/1.1"
        # headers and body (or each chunk) go out as separate writes; with
        # Nagle on, each response would wait for the client's delayed ACK
        disable_nagle_algorithm = True

        def log_message(self, fmt, *args):  # quiet
            pass

        # ---------------------------------------------------- plumbing
        def _send(self, code: int, content_type: str, body: str):
            data = body.encode("utf-8")
            self.send_response(code)
            self.send_header("Content-Type", content_type)
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self._started = True
            self.wfile.write(data)

        def _send_stream(self, code: int, content_type: str, chunks):
            """Stream an iterator of text chunks as a chunked response.
            Chunks coalesce to ~64 KiB wire writes; at no point does the
            full payload exist in driver memory.  The iterator is closed
            however the body ends (complete, failed, or the client gone),
            which releases what it holds (a read's result files)."""
            try:
                self.send_response(code)
                self.send_header("Content-Type", content_type)
                self.send_header("Transfer-Encoding", "chunked")
                self.end_headers()
                self._started = True

                def emit(data: bytes):
                    self.wfile.write(f"{len(data):X}\r\n".encode("ascii"))
                    self.wfile.write(data)
                    self.wfile.write(b"\r\n")

                buf: list[bytes] = []
                size = 0
                for chunk in chunks:
                    data = chunk.encode("utf-8")
                    if not data:
                        continue
                    buf.append(data)
                    size += len(data)
                    if size >= 65536:
                        emit(b"".join(buf))
                        buf, size = [], 0
                if buf:
                    emit(b"".join(buf))
                self.wfile.write(b"0\r\n\r\n")
            finally:
                close = getattr(chunks, "close", None)
                if close is not None:
                    close()

        def _error(self, code: int, msg: str):
            self._send(code, "text/plain", msg + "\n")

        def _server_error(self, e: Exception):
            """A failure the client did not cause: 500 with the message,
            traceback to the log."""
            _log.exception("%s %s failed", self.command, self.path)
            return self._error(500, str(e))

        def _respond(self, action):
            """Run ``action``, which writes the whole response, and give
            its failure a status: RdfParseError 400, NotAcceptable 406,
            anything else 500.  Once the headers are out the status cannot
            change: the connection closes with the body unterminated (a
            streamed body lacks its last chunk), so the client sees a
            truncated transfer, never a complete-looking result."""
            self._started = False
            try:
                action()
            except Exception as e:
                if self._started:
                    _log.exception("%s %s failed mid-response", self.command, self.path)
                    self.close_connection = True
                elif isinstance(e, RdfParseError):
                    self._error(400, str(e))
                elif isinstance(e, NotAcceptable):
                    self._error(406, str(e))
                else:
                    self._server_error(e)

        def _route(self):
            parsed = urlparse(self.path)
            parts = [p for p in parsed.path.split("/") if p]
            qs = parse_qs(parsed.query)
            if len(parts) != 2:
                return None, None, qs
            return server.stores.get(parts[0]), parts[1], qs

        def _body(self) -> bytes:
            n = int(self.headers.get("Content-Length") or 0)
            return self.rfile.read(n) if n else b""

        def _graph_param(self, qs) -> str | None:
            if "default" in qs:
                return "default"
            vals = qs.get("graph")
            return vals[0] if vals else None

        # ---------------------------------------------------- methods
        def do_GET(self):
            path = urlparse(self.path).path
            if path == "/$/ping":
                return self._send(200, "text/plain", datetime.now(timezone.utc).isoformat() + "\n")
            if path == "/$/stats":
                return self._respond(lambda: self._send(
                    200, "application/json", json.dumps(server.stats())
                ))
            store, op, qs = self._route()
            if store is None:
                return self._error(404, "unknown dataset")
            if op == "query":
                q = qs.get("query", [None])[0]
                if not q:
                    return self._error(400, "missing query parameter")
                return self._run_query(store, q, self._dataset_params(qs))
            if op == "data":
                return self._respond(lambda: self._send_stream(200, *server.gsp_read(
                    store, self._graph_param(qs), self.headers.get("Accept")
                )))
            return self._error(404, "unknown endpoint")

        def do_POST(self):
            store, op, qs = self._route()
            if store is None:
                return self._error(404, "unknown dataset")
            body = self._body()
            ct = (self.headers.get("Content-Type") or "").split(";")[0].strip().lower()
            if op == "query":
                if ct == "application/x-www-form-urlencoded":
                    form = parse_qs(body.decode("utf-8"))
                    q = form.get("query", [None])[0]
                    ds = self._dataset_params(form) or self._dataset_params(qs)
                else:
                    q = body.decode("utf-8")
                    ds = self._dataset_params(qs)
                if not q:
                    return self._error(400, "missing query")
                return self._run_query(store, q, ds)
            if op == "update":
                if ct == "application/x-www-form-urlencoded":
                    form = parse_qs(body.decode("utf-8"))
                    u = form.get("update", [None])[0]
                    ds = self._update_dataset_params(form) or self._update_dataset_params(qs)
                else:
                    u = body.decode("utf-8")
                    ds = self._update_dataset_params(qs)
                if not u:
                    return self._error(400, "missing update")
                return self._respond(lambda: self._send(
                    200, "application/json", json.dumps(server.run_update(store, u, dataset=ds))
                ))
            if op == "data":
                return self._gsp_write(store, body, ct, qs, replace=False)
            if op == "patch":
                return self._patch(store, body, ct)
            return self._error(404, "unknown endpoint")

        def do_PUT(self):
            store, op, qs = self._route()
            if store is None or op != "data":
                return self._error(404, "unknown endpoint")
            body = self._body()
            ct = (self.headers.get("Content-Type") or "").split(";")[0].strip().lower()
            return self._gsp_write(store, body, ct, qs, replace=True)

        def do_DELETE(self):
            store, op, qs = self._route()
            if store is None or op != "data":
                return self._error(404, "unknown endpoint")

            def delete():
                server.gsp_delete(store, self._graph_param(qs))
                self._send(204, "text/plain", "")

            return self._respond(delete)

        def do_PATCH(self):
            store, op, _ = self._route()
            if store is None or op != "patch":
                return self._error(404, "unknown endpoint")
            ct = (self.headers.get("Content-Type") or "").split(";")[0].strip().lower()
            return self._patch(store, self._body(), ct)

        # ---------------------------------------------------- helpers
        @staticmethod
        def _dataset_params(qs) -> tuple | None:
            """SPARQL 1.1 Protocol §2.1.4: repeatable default-graph-uri /
            named-graph-uri parameters; when present they OVERRIDE the
            query's FROM / FROM NAMED clauses."""
            d = qs.get("default-graph-uri", [])
            n = qs.get("named-graph-uri", [])
            return (d, n) if (d or n) else None

        @staticmethod
        def _update_dataset_params(qs) -> tuple | None:
            """SPARQL 1.1 Protocol §2.2.3: using-graph-uri /
            using-named-graph-uri scope an update's WHERE dataset; illegal
            alongside USING/WITH in the update text (engine rejects)."""
            d = qs.get("using-graph-uri", [])
            n = qs.get("using-named-graph-uri", [])
            return (d, n) if (d or n) else None

        def _run_query(self, store, q: str, dataset: tuple | None = None):
            return self._respond(lambda: self._send_stream(200, *server.run_query(
                store, q, self.headers.get("Accept"), dataset=dataset
            )))

        def _gsp_write(self, store, body, ct, qs, replace: bool):
            def write():
                n = server.gsp_write(store, body, ct or None, self._graph_param(qs), replace)
                self._send(200, "application/json", json.dumps({"quads": n}))

            return self._respond(write)

        def _patch(self, store, body, ct):
            def patch():
                na, nd = server.apply_patch(store, body, ct or None)
                self._send(200, "application/json", json.dumps({"adds": na, "deletes": nd}))

            return self._respond(patch)

    return Handler
