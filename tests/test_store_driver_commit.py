"""The store's two commit tiers: correctness and job-count pins.

The driver tier writes bucket leaves without a Spark job, so two things
must hold or the store silently corrupts at the BUCKET level:

1. the pure-Python xxh64 twin must be BIT-identical to Spark's
   ``xxhash64`` expression (bucket pruning recomputes buckets at
   delete/dedup time — a near-miss hash loses rows), and
2. a commit sequence applied through the driver tier must produce the
   same snapshot as the same sequence through the Spark tier, including
   set-semantics dedup, delete rewrites, graph-scoped deletes, NULL
   columns, the size gates' boundaries, and cross-writer interop
   (Spark-written rows deleted by the driver tier and vice versa).

And the point of the driver tier — HTTP mutations on a small store launch
no Spark job — is pinned by counting jobs.
"""

from __future__ import annotations

import hashlib
import json

import pytest
from pyspark.sql import functions as F

from jena_fuseki_kafka_spark.model import DEFAULT_GRAPH, QUAD_SCHEMA
from jena_fuseki_kafka_spark.server import SparqlHttpServer
from jena_fuseki_kafka_spark.sparql.update import UpdateEngine
from jena_fuseki_kafka_spark.store import QuadStore
from jena_fuseki_kafka_spark.store.xxh64 import spark_bucket, xxh64

ADVERSARIAL = [
    "",
    "a",
    "http://example.org/subject/1",
    "_:b1",
    "x" * 7, "y" * 8, "z" * 31, "w" * 32, "v" * 33, "u" * 100,
    "üñíçødé-é",
    "中文主语",
    "emoji-\U0001F600-tail",
    "tab\tand\nnewline",
    "nul-adjacent-\x01\x7f",
]


def test_xxh64_matches_spark_expression(spark):
    df = spark.createDataFrame([(s,) for s in ADVERSARIAL], "s string").select(
        "s",
        F.xxhash64(F.col("s")).alias("h"),
        F.pmod(F.xxhash64(F.col("s")), F.lit(16)).alias("b16"),
        F.pmod(F.xxhash64(F.col("s")), F.lit(2)).alias("b2"),
    )
    for r in df.collect():
        h = xxh64(r["s"].encode("utf-8"))
        signed = h - (1 << 64) if h >= 1 << 63 else h
        assert signed == r["h"], f"xxh64 mismatch on {r['s']!r}"
        assert spark_bucket(r["s"], 16) == r["b16"]
        assert spark_bucket(r["s"], 2) == r["b2"]


def _quads(prefix: str, n: int, graph: str = "", dt=None, lang=None):
    return [
        (graph, f"http://e/{prefix}{i}", "http://e/p", "literal", f"v{i}", dt, lang)
        for i in range(n)
    ]




def _snapshot(spark, store):
    return sorted(tuple(r) for r in store.read(spark).collect())


def _leaves_by_bucket(store) -> dict[int, list[str]]:
    out: dict[int, list[str]] = {}
    for f in store._read_manifest()["files"]:
        out.setdefault(store._bucket_of(f), []).append(f)
    return out


XSD_STRING = "http://www.w3.org/2001/XMLSchema#string"
G = "http://e/g"
# the gate-boundary probes shrink both size gates (instance overrides) so
# a store at SMALL_COMMIT_ROWS ± 1 stays test-sized
SMALL, DRIVER = 40, 8


@pytest.mark.parametrize(
    "force_spark, broadcast_max_rows",
    [(False, None), (True, None), (True, 0)],
    ids=["False", "True", "True-shuffle"],
)
def test_commit_sequence_snapshot_parity(
    spark, tmp_path, count_jobs, force_spark, broadcast_max_rows
):
    """The same commit sequence through the rows entry's driver tier
    (default), through the Spark tier (DRIVER_COMMIT_ROWS forced to -1)
    and through the Spark tier with every commit join shuffled
    (BROADCAST_MAX_ROWS forced to 0) must produce the same snapshots —
    closed forms here, identical for every parametrization — and every
    commit must run in the tier the size gates pick (driver tier = no
    Spark job).  After a driver-tier commit every bucket it changed holds
    exactly one leaf, and the leaves of every other bucket carry over."""
    store = QuadStore(str(tmp_path / "seq"), n_buckets=4)
    if force_spark:
        store.DRIVER_COMMIT_ROWS = -1  # instance override: never driver-commit
    if broadcast_max_rows is not None:
        store.BROADCAST_MAX_ROWS = broadcast_max_rows

    def commit(target=store, driver=not force_spark, **kw):
        before = _leaves_by_bucket(target)
        jobs, version = count_jobs(lambda: target.commit(spark, **kw))
        assert (jobs == 0) == driver, (kw.get("txn_id"), jobs)
        if driver:
            after = _leaves_by_bucket(target)
            for b in set(before) | set(after):
                if after.get(b) != before.get(b):
                    assert len(after.get(b, ())) <= 1, (kw.get("txn_id"), b, after[b])
                    assert not set(after.get(b, ())) & set(before.get(b, ()))
        return version

    nulls = _quads("l", 3, lang="en") + _quads("n", 3, dt=XSD_STRING)
    graph_g = _quads("g", 12, graph=G)
    assert len({spark_bucket(r[1], 4) for r in graph_g}) > 1  # spread over buckets
    base = _quads("a", 50) + nulls + graph_g
    # duplicate rows inside one request collapse
    assert commit(adds=base + base[:7], txn_id="t1") == 1
    assert _snapshot(spark, store) == sorted(set(base))
    # set-semantics: re-adding overlapping rows inserts only the new ones
    commit(adds=base[:10] + _quads("b", 5), txn_id="t2")
    # delete a slice (some rows present, some not)
    commit(deletes=base[5:15] + _quads("ghost", 3), txn_id="t3")
    # mixed add+delete in one commit
    commit(adds=_quads("c", 4), deletes=base[20:25], txn_id="t4")
    # idempotent replay of an applied txn is a no-op in either tier
    v = store.version
    assert store.commit(spark, adds=_quads("dup", 9), txn_id="t4") == v
    # PUT-style replace of a graph spread over several buckets
    commit(adds=_quads("h", 4, graph=G), deletes=[(G,)], txn_id="t5")
    # DROP GRAPH of an absent graph still commits a version
    assert commit(deletes=[("http://e/absent",)], txn_id="t6") == v + 2
    # NULL datatype/lang compare null-safely: l0 goes, and n1 without its
    # datatype is a different quad that must not delete the stored n1
    commit(deletes=[nulls[0], nulls[4][:5] + (None, None)], txn_id="t7")

    expect = (
        set(base) - set(base[5:15]) - set(base[20:25]) - set(graph_g) - {nulls[0]}
        | set(_quads("b", 5)) | set(_quads("c", 4)) | set(_quads("h", 4, graph=G))
    )
    assert _snapshot(spark, store) == sorted(expect)

    # the size gates at ±1.  A PUT (graph-scoped delete + adds) reads every
    # leaf, so the whole store is what SMALL_COMMIT_ROWS sees; exact
    # deletes then probe DRIVER_COMMIT_ROWS on the delete side.
    for d_req, d_store in [(-1, 0), (0, 0), (1, 0), (0, -1), (0, 1)]:
        gated = QuadStore(str(tmp_path / f"gate{d_req}{d_store}"), n_buckets=4)
        if broadcast_max_rows is not None:
            gated.BROADCAST_MAX_ROWS = broadcast_max_rows
        pre = _quads("p", SMALL + d_store - 4) + _quads("q", 4, graph=G)
        gated.commit(spark, adds=pre, txn_id="pre")
        gated.SMALL_COMMIT_ROWS = SMALL
        gated.DRIVER_COMMIT_ROWS = -1 if force_spark else DRIVER
        put = _quads("r", DRIVER + d_req, graph=G)
        commit(gated, not force_spark and d_req <= 0 and d_store <= 0,
               adds=put, deletes=[(G,)], txn_id="put")
        assert _snapshot(spark, gated) == sorted(set(pre[:-4]) | set(put))
        gated.SMALL_COMMIT_ROWS = QuadStore.SMALL_COMMIT_ROWS
        commit(gated, not force_spark and d_req <= 0, deletes=put, txn_id="del")
        assert _snapshot(spark, gated) == sorted(set(pre[:-4]))

    # update requests: a rows op followed by a WHERE op in one request
    # keeps sequential semantics (the DELETE WHERE sees the inserted x)
    upd = UpdateEngine(spark, store)
    upd.update(
        'INSERT DATA { <http://e/x> <http://e/p> "1" . <http://e/y> <http://e/p> "2" } ; '
        "DELETE WHERE { <http://e/x> <http://e/p> ?o }",
        txn_id="u1",
    )
    snap = _snapshot(spark, store)
    assert (DEFAULT_GRAPH, "http://e/y", "http://e/p", "literal", "2", None, None) in snap
    assert not any(r[1] == "http://e/x" for r in snap)
    # a bnode INSERT template mints its label as _instantiate does:
    # <label>-<per-op suffix>-<hex xxhash64 of the solution's bindings>
    upd.update('INSERT { ?s <http://e/q> _:b } WHERE { ?s <http://e/p> "2" }', txn_id="u2")
    [label] = [r[4] for r in _snapshot(spark, store) if r[2] == "http://e/q"]
    suffix = hashlib.md5(b"u2|op0").hexdigest()[:12]
    sol_hash = spark.sql(
        "SELECT lower(hex(xxhash64(named_struct("
        "'kind', 'iri', 'value', 'http://e/y', 'datatype', '', 'lang', ''))))"
    ).first()[0]
    assert label.endswith(f"-{suffix}-{sol_hash}"), label


def test_cross_writer_interop(spark, tmp_path):
    """Rows written by the Spark tier must be deletable through the
    driver tier and vice versa — i.e. both writers agree on bucket
    placement (the thing xxh64 parity buys end-to-end)."""
    store = QuadStore(str(tmp_path / "x"), n_buckets=4)

    spark_rows = _quads("sw", 30)
    store.DRIVER_COMMIT_ROWS = -1
    store.commit(spark, adds=spark_rows, txn_id="w1")
    store.DRIVER_COMMIT_ROWS = QuadStore.DRIVER_COMMIT_ROWS
    driver_rows = _quads("dw", 30)
    store.commit(spark, adds=driver_rows, txn_id="w2")

    # driver tier deletes Spark-written rows
    store.commit(spark, deletes=spark_rows[:10], txn_id="w3")
    # Spark tier deletes driver-written rows
    store.DRIVER_COMMIT_ROWS = -1
    store.commit(spark, deletes=driver_rows[:10], txn_id="w4")

    snap = _snapshot(spark, store)
    expect = sorted(set(map(tuple, spark_rows[10:])) | set(map(tuple, driver_rows[10:])))
    assert snap == expect


def test_driver_path_actually_engages(spark, tmp_path, count_jobs):
    """On a small store the HTTP mutations commit without any Spark job,
    and a point DELETE/INSERT WHERE costs one job: the bounded collect of
    its bindings over the one-partition snapshot.  Pinned by job count, so a regression cannot silently
    re-route HTTP writes through Spark jobs."""
    store = QuadStore(str(tmp_path / "e"))
    pre = _quads("pre", 200) + _quads("pg", 20, graph=G)
    store.commit(spark, adds=spark.createDataFrame(pre, QUAD_SCHEMA), assume_unique=True)
    srv = SparqlHttpServer(spark, store)

    def nt(rows):
        return "".join(f'<{s}> <{p}> "{v}" .\n' for _g, s, p, _k, v, _d, _l in rows).encode()

    requests = [
        ("PUT", lambda: srv.gsp_write(store, nt(_quads("put", 3)), "application/n-triples", G, True)),
        ("POST", lambda: srv.gsp_write(store, nt(_quads("post", 3)), "application/n-triples", G, False)),
        ("PATCH", lambda: srv.apply_patch(
            store,
            b'TX .\nA <http://e/x> <http://e/p> "1" .\nD <http://e/pre0> <http://e/p> "v0" .\nTC .\n',
            "application/rdf-patch",
        )),
        ("INSERT DATA", lambda: srv.run_update(store, 'INSERT DATA { <http://e/i> <http://e/p> "1" }')),
        ("DELETE DATA", lambda: srv.run_update(store, 'DELETE DATA { <http://e/pre1> <http://e/p> "v1" }')),
        ("DROP GRAPH", lambda: srv.run_update(store, f"DROP GRAPH <{G}>")),
        ("GSP DELETE", lambda: srv.gsp_delete(store, "default")),
    ]
    for name, request in requests:
        jobs, _ = count_jobs(request)
        assert jobs == 0, f"{name} launched {jobs} Spark jobs"
    assert store.count(spark) == 0  # DROP GRAPH took G, GSP DELETE the default graph

    store.commit(spark, adds=_quads("pre", 5))
    jobs, _ = count_jobs(lambda: srv.run_update(
        store,
        'DELETE { <http://e/pre2> <http://e/p> ?o } INSERT { <http://e/pre2> <http://e/p> "m" } '
        "WHERE { <http://e/pre2> <http://e/p> ?o }",
    ))
    assert jobs == 1, f"point DELETE/INSERT WHERE launched {jobs} Spark jobs"
    expect = set(_quads("pre", 5)) - {_quads("pre", 3)[2]}
    expect.add(("", "http://e/pre2", "http://e/p", "literal", "m", None, None))
    assert _snapshot(spark, store) == sorted(expect)


def test_thousand_small_commits_keep_one_leaf_per_bucket(spark, tmp_path, count_jobs):
    """1,000 two-quad driver-tier commits (inserts, deletes and PATCH-style
    add+delete pairs) on a Spark-written preload leave every bucket with
    at most one leaf and the snapshot at its closed form, and the point,
    COUNT and BGP reads stay at one Spark job each."""
    store = QuadStore(str(tmp_path / "k"))
    pre = _quads("pre", 400) + [
        ("", f"http://e/pre{i}", "http://e/type", "iri", "http://e/C", None, None)
        for i in range(350, 400)
    ]
    store.commit(spark, adds=spark.createDataFrame(pre, QUAD_SCHEMA), assume_unique=True)
    model = set(pre)

    def pair(k):
        return [("", f"http://e/w{k}", f"http://e/{p}", "literal", f"{p}{k}", None, None)
                for p in "ab"]

    def play():
        nonlocal model
        for k in range(1000):
            if k % 3 == 0:  # insert two quads
                adds, dels = pair(k), []
            elif k % 3 == 1:  # delete the two the previous commit inserted
                adds, dels = [], pair(k - 1)
            else:  # PATCH-style: one add, one delete of a preload quad
                adds, dels = pair(k)[:1], [pre[k // 3]]
            store.commit(spark, adds=adds, deletes=dels)
            model = (model - set(dels)) | set(adds)

    jobs, _ = count_jobs(play)
    assert jobs == 0
    stats = store.stats()
    assert stats["version"] == 1001
    assert stats["max_leaves_per_bucket"] <= 1 and stats["leaves"] <= store.n_buckets
    assert stats["tombstones"] <= 2 * store.grace_versions
    assert _snapshot(spark, store) == sorted(model)

    srv = SparqlHttpServer(spark, store)
    reads = {
        "point": ('SELECT ?o WHERE { <http://e/pre399> <http://e/p> ?o }', [{"o": "v399"}]),
        "count": ("SELECT (COUNT(*) AS ?n) WHERE { ?s ?p ?o }", [{"n": str(len(model))}]),
        "bgp": ("SELECT ?s ?v WHERE { ?s <http://e/type> <http://e/C> . ?s <http://e/p> ?v }",
                [{"s": f"http://e/pre{i}", "v": f"v{i}"} for i in range(350, 400)]),
    }
    for name, (q, want) in reads.items():
        jobs, body = count_jobs(lambda: "".join(srv.run_query(store, q)[1]))
        got = [{k: v["value"] for k, v in b.items()} for b in json.loads(body)["results"]["bindings"]]
        assert sorted(got, key=str) == sorted(want, key=str), name
        assert jobs == 1, name
    assert store.stats()["pinned_snapshots"] == 0
