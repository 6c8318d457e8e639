"""Per-layer tracing from outside the package.

``Tracer.install`` wraps the public entry points of each layer (module or
class attributes, restored by ``uninstall``) so every call records a span:
name, span id, parent span id, thread, start and end.  While a span is open
its thread's Spark job group is ``pb<span id>`` (the previous group is put
back when it closes), so each Spark job can be attributed to the innermost
span that launched it, even with several HTTP handler threads and the
streaming thread submitting jobs at once.  Stage executor time and shuffle
bytes come from the Spark UI REST API and are joined to spans through the
jobs' stage ids.  Spans stay in memory until the run ends.

No wrapper is installed on an untraced run.
"""

from __future__ import annotations

import json
import threading
import time
import urllib.request

from contextlib import contextmanager
from urllib.parse import urlparse

GROUP = "spark.jobGroup.id"


def spark_rest(sc, path: str):
    """GET one path of the Spark UI REST API for this application."""
    url = urlparse(sc.uiWebUrl)
    base = f"http://127.0.0.1:{url.port}/api/v1/applications/{sc.applicationId}"
    with urllib.request.urlopen(base + path, timeout=30) as r:
        return json.load(r)


def last_job_id(sc) -> int:
    """Id of the newest Spark job (ids count up from 0), or -1."""
    return max((j["jobId"] for j in spark_rest(sc, "/jobs")), default=-1)


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: dict[int, dict] = {}
        self._lock = threading.Lock()
        self._next = 0
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []
        # spans are recorded only while enabled: the measured phase, not
        # set-up or the benchmark's own checks
        self.enabled = False

    # ------------------------------------------------------------ spans
    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def open(self, name: str) -> tuple[int, str | None]:
        with self._lock:
            self._next += 1
            sid = self._next
        st = self._stack()
        self.spans[sid] = {"name": name, "parent": st[-1] if st else None,
                           "thread": threading.get_ident(), "t0": time.time(), "t1": None}
        st.append(sid)
        prev = self.sc.getLocalProperty(GROUP)
        self.sc.setLocalProperty(GROUP, f"pb{sid}")
        return sid, prev

    def close(self, sid: int, prev: str | None) -> None:
        self.spans[sid]["t1"] = time.time()
        st = self._stack()
        if st and st[-1] == sid:
            st.pop()
        self.sc.setLocalProperty(GROUP, prev)

    @contextmanager
    def span(self, name: str):
        sid, prev = self.open(name)
        try:
            yield sid
        finally:
            self.close(sid, prev)

    def _in(self, name: str) -> bool:
        return any(self.spans[s]["name"] == name for s in self._stack())

    # ------------------------------------------------------------ patching
    def _patch(self, owner, attr: str, name: str, streams_result: bool = False,
               outermost: bool = False):
        orig = getattr(owner, attr)
        tracer = self

        if streams_result:
            # (content_type, chunk iterator): the span stays open until the
            # handler thread has pulled the last chunk
            def wrapped(*a, **kw):
                if not tracer.enabled:
                    return orig(*a, **kw)
                sid, prev = tracer.open(name)
                try:
                    ct, chunks = orig(*a, **kw)
                except BaseException:
                    tracer.close(sid, prev)
                    raise

                def drain():
                    try:
                        yield from chunks
                    finally:
                        tracer.close(sid, prev)

                return ct, drain()
        else:
            def wrapped(*a, **kw):
                if not tracer.enabled or (outermost and tracer._in(name)):
                    return orig(*a, **kw)
                with tracer.span(name):
                    return orig(*a, **kw)

        setattr(owner, attr, wrapped)
        self._patched.append((owner, attr, orig))

    def install(self):
        from jena_fuseki_kafka_spark import server as srv
        from jena_fuseki_kafka_spark.ingest import streaming
        from jena_fuseki_kafka_spark.sparql import engine
        from jena_fuseki_kafka_spark.sparql.translate import Translator
        from jena_fuseki_kafka_spark.sparql.update import UpdateEngine
        from jena_fuseki_kafka_spark.store import QuadStore

        # the streaming layer looks the projector up in its own module
        self._patch(streaming, "apply_event_batch", "projector.apply_event_batch")
        self._patch(QuadStore, "commit", "store.commit")
        self._patch(QuadStore, "read", "store.read")
        self._patch(QuadStore, "compact", "store.compact")
        self._patch(engine, "parse_sparql", "sparql.parse")
        self._patch(Translator, "translate", "sparql.translate", outermost=True)
        self._patch(UpdateEngine, "update", "sparql.update")
        S = srv.SparqlHttpServer
        self._patch(S, "run_query", "server.query", streams_result=True)
        self._patch(S, "gsp_read", "server.gsp_read", streams_result=True)
        self._patch(S, "run_update", "server.update")
        self._patch(S, "gsp_write", "server.gsp_write")
        self._patch(S, "apply_patch", "server.patch")

    def uninstall(self):
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # ------------------------------------------------------------ Spark side
    def rest(self, path: str):
        return spark_rest(self.sc, path)

    def jobs_by_span(self) -> tuple[dict[int, list[dict]], dict[int, dict]]:
        """span id -> jobs whose innermost span it is; stage id -> stage."""
        by_span: dict[int, list[dict]] = {}
        for j in self.rest("/jobs"):
            g = j.get("jobGroup") or ""
            if g.startswith("pb") and g[2:].isdigit() and int(g[2:]) in self.spans:
                by_span.setdefault(int(g[2:]), []).append(j)
        stages = {}
        for s in self.rest("/stages"):
            prev = stages.get(s["stageId"])
            if prev is None or s.get("attemptId", 0) > prev.get("attemptId", 0):
                stages[s["stageId"]] = s
        return by_span, stages

    def descendants(self, sid: int) -> list[int]:
        children: dict[int | None, list[int]] = {}
        for k, s in self.spans.items():
            children.setdefault(s["parent"], []).append(k)
        out, todo = [], [sid]
        while todo:
            k = todo.pop()
            out.append(k)
            todo.extend(children.get(k, []))
        return out

    def gc_ms(self) -> float:
        return float(sum(e.get("totalGCTime", 0) for e in self.rest("/allexecutors")))


def layer_metrics(tracer: Tracer, client_ms: list[float]) -> dict:
    """Aggregate spans and the jobs/stages attributed to them into the
    per-layer metrics (means per call; 0 where a layer never ran)."""
    spans = tracer.spans
    by_span, stages = tracer.jobs_by_span()

    def named(name, under=None):
        out = []
        for k, s in spans.items():
            if s["name"] != name or s["t1"] is None:
                continue
            if under is not None:
                p = s["parent"]
                while p is not None and spans[p]["name"] not in under:
                    p = spans[p]["parent"]
                if p is None:
                    continue
            out.append(k)
        return out

    def dur(k):
        return spans[k]["t1"] - spans[k]["t0"]

    def mean(xs):
        xs = list(xs)
        return sum(xs) / len(xs) if xs else 0.0

    def jobs_under(k):
        return [j for d in tracer.descendants(k) for j in by_span.get(d, [])]

    def stage_sum(jobs, key):
        return sum(stages[sid].get(key, 0) for j in jobs
                   for sid in j.get("stageIds", []) if sid in stages)

    m: dict[str, float] = {}
    proj = named("projector.apply_event_batch")
    m["projector.batch_s"] = mean(dur(k) for k in proj)
    m["projector.jobs"] = mean(len(jobs_under(k)) for k in proj)
    m["projector.shuffle_bytes"] = mean(
        stage_sum(jobs_under(k), "shuffleReadBytes") + stage_sum(jobs_under(k), "shuffleWriteBytes")
        for k in proj)
    # the parse UDF runs in the stages of the projector's own jobs (parse,
    # net-effect aggregate, DLQ count), not in the store commit's; inside
    # foreachBatch the stage call site is the py4j callback, so jobs are
    # told apart by span, not by call site
    m["payloads.parse_task_s"] = mean(
        stage_sum(by_span.get(k, []), "executorRunTime") / 1000.0 for k in proj)

    commits = named("store.commit")
    driver = [k for k in commits if not jobs_under(k)]
    spark_tier = [k for k in commits if jobs_under(k)]
    m["store.commit_s.driver"] = mean(dur(k) for k in driver)
    m["store.commit_s.spark"] = mean(dur(k) for k in spark_tier)
    m["store.commit_jobs"] = mean(len(jobs_under(k)) for k in commits)
    m["store.driver_tier_ratio"] = len(driver) / len(commits) if commits else 0.0
    m["store.read_ms"] = 1000 * mean(dur(k) for k in named("store.read"))

    queries = named("server.query")
    qset = {"server.query"}
    m["sparql.parse_ms"] = 1000 * mean(dur(k) for k in named("sparql.parse", qset))
    m["sparql.translate_ms"] = 1000 * mean(dur(k) for k in named("sparql.translate", qset))
    exec_s = []
    for q in queries:
        built = [spans[d]["t1"] for d in tracer.descendants(q)
                 if spans[d]["name"] == "sparql.translate" and spans[d]["t1"]]
        if built:
            exec_s.append(spans[q]["t1"] - max(built))
    m["sparql.exec_ms"] = 1000 * mean(exec_s)
    m["sparql.jobs"] = mean(len(jobs_under(k)) for k in queries)
    updates = named("sparql.update")
    m["sparql.update_ms"] = 1000 * mean(dur(k) for k in updates)
    m["sparql.update_jobs"] = mean(len(jobs_under(k)) for k in updates)

    handler = []
    for op in ("query", "update", "gsp_read", "gsp_write", "patch"):
        ks = named(f"server.{op}")
        handler.extend(dur(k) for k in ks)
        m[f"server.handler_ms.{op}"] = 1000 * mean(dur(k) for k in ks)
    m["server.overhead_ms"] = (mean(client_ms) - 1000 * mean(handler)) if handler and client_ms else 0.0
    return m
