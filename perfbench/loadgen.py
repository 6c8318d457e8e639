"""Load process: HTTP clients and the open-loop event-file generator.

Runs as its own process, separate from the engine under test, so the
clients' interpreter lock never competes with the server's.  It imports no
Spark; it speaks HTTP to the server and drops parquet event files into the
stream's source directory.

    python3 perfbench/loadgen.py <config.json> <result.json>

Modes (``mode`` in the config):

- ``http_mixed``: ``clients`` closed-loop clients, each on its own
  keep-alive connection, each writing only under its own namespace so its
  expected state is known exactly.  Every read answer is checked against
  its closed form.
- ``stream_serve``: an open-loop generator dropping one RDF-Patch data
  event plus one marker event per file at ``rate`` files/s for
  ``seconds``; a closed-loop prober that polls which markers are visible;
  and an open-loop writer that sends one small PATCH every
  ``1 / patch_rate`` seconds.  After the generator stops, the prober runs
  until every marker is visible or ``drain_timeout`` passes.

Failures (non-2xx, dropped connection, unterminated chunked body, socket
timeout, wrong answer) are counted by class and never abort a loop; a
failed request contributes no latency sample.
"""

from __future__ import annotations

import http.client
import json
import os
import random
import socket
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402

REQUEST_TIMEOUT_S = 60


class Client:
    """One keep-alive HTTP connection with failure classification."""

    def __init__(self, port: int, dataset: str):
        self.port = port
        self.ds = dataset
        self.conn = None

    def _connect(self):
        if self.conn is None:
            self.conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=REQUEST_TIMEOUT_S)
        return self.conn

    def close(self):
        if self.conn is not None:
            self.conn.close()
            self.conn = None

    def request(self, method: str, path: str, body: bytes | None = None,
                headers: dict | None = None) -> tuple[bytes | None, str | None]:
        """Returns (body, None) on 2xx, else (None, failure class)."""
        try:
            conn = self._connect()
            conn.request(method, f"/{self.ds}/{path}", body=body, headers=headers or {})
            resp = conn.getresponse()
            data = resp.read()
            if not 200 <= resp.status < 300:
                return None, f"http_{resp.status}"
            return data, None
        except http.client.RemoteDisconnected:
            fail = "dropped_connection"
        except http.client.IncompleteRead:
            fail = "unterminated_body"
        except (ConnectionResetError, BrokenPipeError, ConnectionRefusedError):
            fail = "dropped_connection"
        except (socket.timeout, TimeoutError):
            fail = "timeout"
        except (http.client.HTTPException, OSError) as e:
            fail = "protocol_" + type(e).__name__
        self.close()  # reconnect on the next request
        return None, fail

    def query(self, text: str) -> tuple[list | None, str | None]:
        data, fail = self.request(
            "POST", "query", text.encode(),
            {"Content-Type": "application/sparql-query",
             "Accept": "application/sparql-results+json"},
        )
        if fail:
            return None, fail
        try:
            return json.loads(data)["results"]["bindings"], None
        except (ValueError, KeyError):
            return None, "wrong_answer"


class Recorder:
    """Per-op samples and failure counts, shared by a process's threads."""

    def __init__(self):
        self.lock = threading.Lock()
        self.samples: dict[str, list] = {}  # op -> [[t_due, latency_s]]
        self.failures: dict[str, int] = {}  # class -> count
        self.failed_ops: dict[str, int] = {}  # op -> count
        self.wrong: list[str] = []  # the first few wrong answers, for the report
        self.attempted = 0

    def record(self, op: str, t_due: float, t_end: float, fail: str | None):
        with self.lock:
            self.attempted += 1
            if fail:
                self.failures[fail] = self.failures.get(fail, 0) + 1
                self.failed_ops[op] = self.failed_ops.get(op, 0) + 1
            else:
                self.samples.setdefault(op, []).append([t_due, t_end - t_due])

    def as_dict(self) -> dict:
        return {"samples": self.samples, "failures": self.failures,
                "failed_ops": self.failed_ops, "attempted": self.attempted,
                "wrong": self.wrong}


def _v(b: dict | None):
    return None if b is None else b["value"]


# ------------------------------------------------------------ http_mixed
# One deck of 17 requests (11 reads, 6 writes) in a fixed order; a client
# plays whole decks, from a per-client offset, until the deadline passes.
# The order does not depend on the seed (only the requests' constants do),
# and a run holds whole decks only, so every run sends the same mix and a
# run's percentiles do not move with where the deadline cut the deck.
DECK = ["read_point", "write_insert", "read_count", "read_gsp", "write_patch",
        "read_group", "read_point", "write_post", "read_count", "write_modify",
        "read_point", "read_gsp", "write_patch", "read_bgp", "write_put",
        "read_count", "read_point"]


def _lit(s: str) -> str:
    return f'"{s}"'


class NamespaceClient:
    """A closed-loop client writing only under ``<BENCH>c<k>/``; keeps the
    exact expected content of its namespace as N-Quads-style tuples
    (graph, subject, predicate, object term)."""

    def __init__(self, k: int, cfg: dict, rec: Recorder):
        self.k = k
        self.cfg = cfg
        self.rec = rec
        self.http = Client(cfg["port"], cfg["dataset"])
        self.rng = random.Random(f"{cfg['seed']}|client|{k}")
        self.ns = f"{gen.BENCH}c{k}/"
        self.gA, self.gB, self.gC = self.ns + "gA", self.ns + "gB", self.ns + "gC"
        self.model: set[tuple] = set()
        self.n = 0

    def _iri(self, local: str) -> str:
        return self.ns + local

    def _ok(self, cond: bool, got=None, want=None) -> str | None:
        if cond:
            return None
        with self.rec.lock:
            if len(self.rec.wrong) < 5:
                self.rec.wrong.append(f"client {self.k} request {self.n}: got {got!r:.300} want {want!r:.300}")
        return "wrong_answer"

    # reads: answers over the preload (never written) or the own namespace
    def read_point(self):
        i = self.rng.randrange(self.cfg["n_subjects"])
        rows, fail = self.http.query(gen.q_point(i))
        if fail:
            return fail
        got = {(_v(r.get("p")), _v(r.get("o"))) for r in rows}
        want = gen.a_point(self.cfg["n_subjects"], i)
        return self._ok(len(rows) == len(got) and got == want, rows, want)

    def read_count(self):
        j = self.rng.randrange(gen.PRE_GRAPHS)
        rows, fail = self.http.query(gen.q_count(j))
        if fail:
            return fail
        want = gen.pre_graph_count(self.cfg["n_subjects"], j)
        return self._ok(len(rows) == 1 and int(_v(rows[0]["n"])) == want, rows, want)

    def read_bgp(self):
        j, c = self.rng.randrange(gen.PRE_GRAPHS), self.rng.randrange(gen.PRE_CLASSES)
        t = self.rng.randrange(100, 1000)
        rows, fail = self.http.query(gen.q_bgp(j, c, t))
        if fail:
            return fail
        got = {(_v(r.get("s")), _v(r.get("v")), _v(r.get("o"))) for r in rows}
        want = gen.a_bgp(self.cfg["n_subjects"], j, c, t)
        return self._ok(len(rows) == len(got) and got == want, rows, want)

    def read_group(self):
        j = self.rng.randrange(gen.PRE_GRAPHS)
        rows, fail = self.http.query(gen.q_group(j))
        if fail:
            return fail
        got = {_v(r.get("c")): int(_v(r.get("n"))) for r in rows}
        want = gen.a_group(self.cfg["n_subjects"], j)
        return self._ok(got == want, got, want)

    def read_gsp(self):
        # the server answers a graph read in N-Quads (graph term included)
        data, fail = self.http.request(
            "GET", f"data?graph={self.gC}", headers={"Accept": "application/n-quads"})
        if fail:
            return fail
        got = sorted(ln.strip() for ln in data.decode().splitlines() if ln.strip())
        want = sorted(f"<{s}> <{p}> {o} <{g}> ." for g, s, p, o in self.model if g == self.gC)
        return self._ok(got == want, got, want)

    # writes
    def _subjects(self, g: str, p: str) -> list[str]:
        return sorted({s for gg, s, pp, _ in self.model if gg == g and pp == p})

    def write_insert(self):
        self.n += 1
        s, n = self._iri(f"s{self.n}"), self.n
        quads = [(self.gA, s, self._iri("p"), _lit(f"v{n}")),
                 (self.gA, s, self._iri("q"), _lit(f"w{n}"))]
        body = "INSERT DATA { GRAPH <%s> { %s } }" % (
            self.gA, " ".join(f"<{q[1]}> <{q[2]}> {q[3]} ." for q in quads))
        _, fail = self.http.request("POST", "update", body.encode(),
                                    {"Content-Type": "application/sparql-update"})
        if not fail:
            self.model.update(quads)
        return fail

    def write_modify(self):
        subs = self._subjects(self.gA, self._iri("p"))
        if not subs:
            return self.write_insert()
        self.n += 1
        s, p = self.rng.choice(subs), self._iri("p")
        body = (f"DELETE {{ GRAPH <{self.gA}> {{ <{s}> <{p}> ?o }} }} "
                f"INSERT {{ GRAPH <{self.gA}> {{ <{s}> <{p}> \"m{self.n}\" }} }} "
                f"WHERE {{ GRAPH <{self.gA}> {{ <{s}> <{p}> ?o }} }}")
        _, fail = self.http.request("POST", "update", body.encode(),
                                    {"Content-Type": "application/sparql-update"})
        if not fail:
            self.model = {q for q in self.model if not (q[0] == self.gA and q[1] == s and q[2] == p)}
            self.model.add((self.gA, s, p, _lit(f"m{self.n}")))
        return fail

    def write_patch(self):
        self.n += 1
        add = (self.gA, self._iri(f"s{self.n}"), self._iri("p"), _lit(f"v{self.n}"))
        own = sorted(q for q in self.model if q[0] == self.gA)
        dele = self.rng.choice(own) if own else None
        lines = ["TX .", f"A <{add[1]}> <{add[2]}> {add[3]} <{add[0]}> ."]
        if dele:
            lines.append(f"D <{dele[1]}> <{dele[2]}> {dele[3]} <{dele[0]}> .")
        lines.append("TC .")
        _, fail = self.http.request("PATCH", "patch", ("\n".join(lines) + "\n").encode(),
                                    {"Content-Type": "application/rdf-patch"})
        if not fail:
            self.model.discard(dele)
            self.model.add(add)
        return fail

    def write_post(self):
        self.n += 1
        s = self._iri(f"b{self.n}")
        quads = [(self.gB, s, self._iri("p"), _lit(f"b{self.n}")),
                 (self.gB, s, self._iri("q"), _lit(f"bb{self.n}"))]
        body = "".join(f"<{q[1]}> <{q[2]}> {q[3]} .\n" for q in quads)
        data, fail = self.http.request("POST", f"data?graph={self.gB}", body.encode(),
                                       {"Content-Type": "text/turtle"})
        if fail:
            return fail
        self.model.update(quads)
        return self._ok(json.loads(data).get("quads") == 2, data, 2)

    def write_put(self):
        self.n += 1
        quads = [(self.gC, self._iri(f"r{self.n}_{i}"), self._iri("p"), _lit(f"r{self.n}"))
                 for i in range(3)]
        body = "".join(f"<{q[1]}> <{q[2]}> {q[3]} .\n" for q in quads)
        data, fail = self.http.request("PUT", f"data?graph={self.gC}", body.encode(),
                                       {"Content-Type": "text/turtle"})
        if fail:
            return fail
        self.model = {q for q in self.model if q[0] != self.gC} | set(quads)
        return self._ok(json.loads(data).get("quads") == 3, data, 3)

    def run(self, deadline: float):
        first = self.k * len(DECK) // max(1, self.cfg["clients"])
        deck = DECK[first:] + DECK[:first]
        try:
            while time.time() < deadline:
                for op in deck:
                    t0 = time.time()
                    fail = getattr(self, op)()
                    self.rec.record(op, t0, time.time(), fail)
        finally:
            self.http.close()


def run_http_mixed(cfg: dict) -> dict:
    rec = Recorder()
    clients = [NamespaceClient(k, cfg, rec) for k in range(cfg["clients"])]
    t0 = time.time()
    deadline = t0 + cfg["seconds"]
    threads = [threading.Thread(target=c.run, args=(deadline,)) for c in clients]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    out = rec.as_dict()
    out.update(t0=t0, t1=time.time(),
               models={c.ns: sorted(c.model) for c in clients})
    return out


# ---------------------------------------------------------- stream_serve
def write_event_file(path: str, events: list[tuple[int, str, bytes]]):
    """EVENT_SCHEMA parquet (one Kafka-fetch-sized file), written under a
    hidden name and renamed so the stream never lists a partial file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    hdr = pa.list_(pa.struct([pa.field("key", pa.string(), False),
                              pa.field("value", pa.binary())]))
    table = pa.table({
        "key": pa.array([None] * len(events), pa.binary()),
        "value": pa.array([v for _, _, v in events], pa.binary()),
        "headers": pa.array([[{"key": "Content-Type", "value": ct.encode()}]
                             for _, ct, _ in events], hdr),
        "topic": pa.array(["stream"] * len(events), pa.string()),
        "partition": pa.array([0] * len(events), pa.int32()),
        "offset": pa.array([o for o, _, _ in events], pa.int64()),
        "timestamp": pa.array([None] * len(events), pa.timestamp("us", tz="UTC")),
    })
    d, name = os.path.split(path)
    tmp = os.path.join(d, "." + name + ".tmp")
    pq.write_table(table, tmp)
    os.rename(tmp, path)


def run_stream_serve(cfg: dict) -> dict:
    rec = Recorder()
    seed, rate, seconds = cfg["seed"], cfg["rate"], cfg["seconds"]
    n_files = int(seconds * rate)
    due = [0.0] * n_files
    dropped = [0.0] * n_files
    visible: dict[int, float] = {}
    state = {"gen_done": False, "wrong": 0}
    t0 = time.time() + 0.2

    def generator():
        for i in range(n_files):
            due[i] = t0 + i / rate
            delay = due[i] - time.time()
            if delay > 0:
                time.sleep(delay)
            write_event_file(
                os.path.join(cfg["events_dir"], f"{i:06d}.parquet"),
                [(2 * i, gen.PATCH, gen.patch_event(seed, i)),
                 (2 * i + 1, gen.PATCH, gen.marker_event(i))],
            )
            dropped[i] = time.time()
        state["gen_done"] = True

    def prober():
        http = Client(cfg["port"], cfg["dataset"])
        q = (f"SELECT ?m WHERE {{ GRAPH <{gen.MARKER_GRAPH}> "
             f"{{ ?m <{gen.BENCH}p/seen> ?o }} }}")
        prefix = gen.marker_iri(0)[:-1]
        try:
            while True:
                if state["gen_done"]:
                    if len(visible) >= n_files or time.time() > drain_deadline[0]:
                        break
                t_send = time.time()
                rows, fail = http.query(q)
                t_resp = time.time()
                if not fail:
                    seen = {int(_v(r["m"])[len(prefix):]) for r in rows}
                    # visibility is monotone and only dropped files appear
                    if not set(visible) <= seen or any(
                            i >= n_files or dropped[i] == 0.0 for i in seen):
                        fail = "wrong_answer"
                    for i in seen - set(visible):
                        visible[i] = t_resp
                rec.record("read_probe", t_send, t_resp, fail)
        finally:
            http.close()

    writer_rec = {"model": set()}

    def writer():
        http = Client(cfg["port"], cfg["dataset"])
        ns = f"{gen.BENCH}w/"
        g = ns + "g"
        added: list[tuple] = []
        k = 0
        try:
            while True:
                t_due = t0 + k / cfg["patch_rate"]
                if t_due > t0 + seconds:
                    break
                delay = t_due - time.time()
                if delay > 0:
                    time.sleep(delay)
                add = (g, f"{ns}s{k}", f"{ns}p", f'"v{k}"')
                lines = ["TX .", f"A <{add[1]}> <{add[2]}> {add[3]} <{add[0]}> ."]
                dele = added[-2] if len(added) >= 2 and k % 2 else None
                if dele:
                    lines.append(f"D <{dele[1]}> <{dele[2]}> {dele[3]} <{dele[0]}> .")
                lines.append("TC .")
                _, fail = http.request("PATCH", "patch", ("\n".join(lines) + "\n").encode(),
                                       {"Content-Type": "application/rdf-patch"})
                if not fail:
                    added.append(add)
                    writer_rec["model"].add(add)
                    if dele:
                        writer_rec["model"].discard(dele)
                        added.remove(dele)
                rec.record("write_patch", t_due, time.time(), fail)
                k += 1
        finally:
            http.close()

    drain_deadline = [t0 + seconds + cfg["drain_timeout"]]
    threads = [threading.Thread(target=f) for f in (generator, prober, writer)]
    for t in threads:
        t.start()
    threads[0].join()
    t_gen_end = time.time()
    drain_deadline[0] = t_gen_end + cfg["drain_timeout"]
    for t in threads[1:]:
        t.join()
    missing = [i for i in range(n_files) if i not in visible]
    out = rec.as_dict()
    for _ in missing:
        out["failures"]["marker_never_visible"] = out["failures"].get("marker_never_visible", 0) + 1
    out.update(
        t0=t0, t_gen_end=t_gen_end, n_files=n_files,
        due=due, dropped=dropped,
        visible={str(i): t for i, t in visible.items()},
        missing=len(missing),
        models={"w": sorted(writer_rec["model"])},
    )
    return out


def main():
    with open(sys.argv[1]) as f:
        cfg = json.load(f)
    out = run_http_mixed(cfg) if cfg["mode"] == "http_mixed" else run_stream_serve(cfg)
    with open(sys.argv[2] + ".tmp", "w") as f:
        json.dump(out, f)
    os.replace(sys.argv[2] + ".tmp", sys.argv[2])


if __name__ == "__main__":
    main()
