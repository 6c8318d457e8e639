"""Near-dup gate must be NON-vacuous (VERDICT r3 item 1).

The registered s03 threshold (0.95) yields 0 rows on the near-orthogonal
testdata embeddings, so its driver row proves nothing about the pair
pipeline.  s03b runs the identical pipeline at threshold 0.30 and must
produce a non-empty result that matches the DuckDB oracle exactly —
standing evidence that the quantizer blocking, multi-probe, pair dedup,
and exact-cosine stages all work.
"""

import duckdb
import pytest

from jena_fuseki_kafka_spark.queries import ORACLES, QUERIES


def _oracle_rows(sql: str, sf_dir: str):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{sf_dir}/embeddings.parquet')"
    )
    return con.execute(sql).fetchall()


def test_s03b_non_empty_and_matches_oracle(spark, sf_dir):
    rows = QUERIES["s03b_embedding_near_dup_lowt"](spark, sf_dir).collect()
    assert len(rows) > 0, "lowered-threshold near-dup gate must be non-vacuous"
    oracle = _oracle_rows(ORACLES["s03b_embedding_near_dup_lowt"], sf_dir)
    assert sorted(tuple(r) for r in rows) == sorted(tuple(r) for r in oracle)


def test_s03b_stays_oracle_gated():
    # the durable contract is that s03b stays registered with its DuckDB
    # oracle, so the full-registry oracle sweep checks it
    assert "s03b_embedding_near_dup_lowt" in QUERIES
    assert "s03b_embedding_near_dup_lowt" in ORACLES


def test_s03_production_threshold_still_registered():
    # the 0.95 production threshold stays registered (it is the real
    # operator contract); s03b supplements rather than replaces it
    assert "s03_embedding_near_dup" in QUERIES
    assert "s03_embedding_near_dup" in ORACLES


class TestConnectedComponents:
    """d06's HashMin label propagation must converge past diameter 1 —
    LSH clusters are near-cliques, but transitive near-dup CHAINS
    (a~b~c~d with a!~d) are exactly the case clustering exists for."""

    def test_chain_converges_to_one_component(self, spark):
        from jena_fuseki_kafka_spark.queries.dedup import connected_components

        # path graph 0-1-2-...-9 (diameter 9) plus a separate pair
        pairs = spark.createDataFrame(
            [(f"d{i}", f"d{i+1}") for i in range(9)] + [("x1", "x2")],
            ["doc_a", "doc_b"],
        )
        got = {r.v: r.comp for r in connected_components(pairs).collect()}
        assert all(got[f"d{i}"] == "d0" for i in range(10))
        assert got["x1"] == got["x2"] == "x1"

    def test_random_graphs_match_union_find(self, spark):
        # adversarial check for the pointer-jumping variant: on seeded
        # random graphs (mixed cliques, chains, stars, singles-by-absence)
        # the distributed labels must equal a driver-side union-find's
        # component minima exactly
        import random

        from jena_fuseki_kafka_spark.queries.dedup import connected_components

        rng = random.Random(20260814)
        for n, m in [(50, 40), (80, 80), (120, 60)]:
            edges = [
                (rng.randrange(n), rng.randrange(n)) for _ in range(m)
            ]
            edges = [(a, b) for a, b in edges if a != b]
            parent = list(range(n))

            def find(x):
                while parent[x] != x:
                    parent[x] = parent[parent[x]]
                    x = parent[x]
                return x

            for a, b in edges:
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
            touched = {v for e in edges for v in e}
            expect = {v: find(v) for v in touched}
            pairs = spark.createDataFrame(edges, ["doc_a", "doc_b"])
            # both execution paths must produce the identical labels:
            # the default (driver union-find under CC_DRIVER_MAX_EDGES)
            # and the forced distributed fixpoint
            got = {r.v: r.comp for r in connected_components(pairs).collect()}
            assert got == expect, ("driver", n, m)
            got_dist = {
                r.v: r.comp
                for r in connected_components(pairs, driver_max_edges=0).collect()
            }
            assert got_dist == expect, ("distributed", n, m)

    def test_200_hop_chain_converges_within_budget(self, spark):
        # the VERDICT r8 item 7 gate: a >50-hop path graph exceeded the
        # old O(diameter) HashMin budget (it raised rather than answer);
        # pointer jumping makes distance-to-root at least double per
        # round, so 200 hops converge in ~8 rounds — well inside 50
        from jena_fuseki_kafka_spark.queries.dedup import connected_components

        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(200)], ["doc_a", "doc_b"]
        )
        # driver_max_edges=0: the O(log diameter) convergence budget is a
        # distributed-loop property; the default path would solve this on
        # the driver without exercising pointer jumping at all
        out = connected_components(pairs, max_rounds=50, driver_max_edges=0).collect()
        assert len(out) == 201
        assert {r.comp for r in out} == {0}

    def test_clique_one_round(self, spark):
        from jena_fuseki_kafka_spark.queries.dedup import connected_components

        pairs = spark.createDataFrame(
            [("a", "b"), ("a", "c"), ("b", "c")], ["doc_a", "doc_b"]
        )
        got = {r.v: r.comp for r in connected_components(pairs).collect()}
        assert got == {"a": "a", "b": "a", "c": "a"}

    def test_driver_fast_path_routing_by_edge_count(self, spark, monkeypatch):
        # the size-adaptive dispatch: at or under the bound the labels
        # come from the driver union-find (LocalTableScan-backed — no
        # fixpoint jobs); one over the bound routes to the distributed
        # loop.  The symmetrized edge list has 2x the pair count.
        from jena_fuseki_kafka_spark.queries import dedup

        calls = []
        real = dedup._driver_components
        monkeypatch.setattr(
            dedup,
            "_driver_components",
            lambda e, rows: calls.append(1) or real(e, rows),
        )
        pairs = spark.createDataFrame(
            [(1, 2), (3, 4), (4, 5)], ["doc_a", "doc_b"]
        )  # 6 symmetrized edges
        expect = {1: 1, 2: 1, 3: 3, 4: 3, 5: 3}
        got = {
            r.v: r.comp
            for r in dedup.connected_components(pairs, driver_max_edges=6).collect()
        }
        assert got == expect and calls == [1]
        got = {
            r.v: r.comp
            for r in dedup.connected_components(pairs, driver_max_edges=5).collect()
        }
        assert got == expect and calls == [1]  # distributed: no 2nd call

    @pytest.mark.parametrize("schema", ["doc_a long, doc_b long", "doc_a string, doc_b string"])
    def test_driver_and_distributed_agree_on_null_ids_at_bound(self, spark, monkeypatch, schema):
        # the size-adaptive pair at CC_DRIVER_MAX_EDGES - 1 / = / + 1 (the
        # bound shrunk to this graph's size) with int or string ids, some
        # null: a pair with a null id links nothing on either path
        from jena_fuseki_kafka_spark.queries import dedup

        cast = int if schema.startswith("doc_a long") else str
        raw = [(1, 2), (2, 3), (5, None), (None, 7), (None, None), (8, 9), (9, 1)]
        pairs = spark.createDataFrame(
            [tuple(None if x is None else cast(x) for x in p) for p in raw], schema
        )
        edges = 2 * sum(1 for a, b in raw if a is not None and b is not None)
        one = cast(1)
        expect = {cast(v): one for v in (1, 2, 3, 8, 9)}
        dist = {r.v: r.comp for r in dedup.connected_components(pairs, driver_max_edges=0).collect()}
        assert dist == expect
        calls = []
        real = dedup._driver_components
        monkeypatch.setattr(
            dedup, "_driver_components", lambda e, rows: calls.append(1) or real(e, rows)
        )
        for bound, driver in [(edges - 1, False), (edges, True), (edges + 1, True)]:
            monkeypatch.setattr(dedup, "CC_DRIVER_MAX_EDGES", bound)
            calls.clear()
            got = {r.v: r.comp for r in dedup.connected_components(pairs).collect()}
            assert got == expect and bool(calls) == driver, (bound, calls)

    def test_zero_round_budget_raises_diagnostic_not_nameerror(self, spark):
        # ADVICE r9: with max_rounds <= 0 the loop body never runs; the
        # guard must still raise the intended RuntimeError, not NameError
        # on an unbound `changed`
        import pytest

        from jena_fuseki_kafka_spark.queries.dedup import connected_components

        pairs = spark.createDataFrame([("a", "b")], ["doc_a", "doc_b"])
        # driver_max_edges=0: the zero-budget guard is a property of the
        # distributed round loop (the driver fast path needs no rounds)
        with pytest.raises(RuntimeError, match="did not converge"):
            connected_components(pairs, max_rounds=0, driver_max_edges=0)


def _write_embeddings_parquet(path, ids, vectors, labels=None):
    """One embeddings-fixture writer for every test class in this file —
    the schema (vec_id int64, embedding list<float32>, optional label
    int32) must stay in lockstep with the real fixtures, and one
    definition means one edit when it changes."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = {
        "vec_id": pa.array(ids, type=pa.int64()),
        "embedding": pa.array(vectors, type=pa.list_(pa.float32())),
    }
    if labels is not None:
        cols["label"] = pa.array(labels, type=pa.int32())
    pq.write_table(pa.table(cols), str(path))


class TestVectorValidityQuarantine:
    """Structurally malformed embeddings (NULL array, NULL component,
    wrong width, empty) must be dropped at the scan by BOTH engines'
    validity predicates — the engines' list primitives diverge on them
    (Spark zip_with/aggregate NULL-poison the dot product; DuckDB
    list_sum SKIPS NULL elements and returns a silently partial dot),
    so a malformed row reaching a cosine splits the engines."""

    ROWS = [
        (0, [1.0, 2.0, 3.0], True),
        (1, None, False),          # NULL array
        (2, [1.0, None, 3.0], False),  # NULL component
        (3, [1.0, 2.0], False),    # truncated width
        (4, [], False),            # empty
        (5, [0.0, 0.0, 0.0], True),  # zero-norm is VALID (cosine-level NULL)
        (6, [float("nan"), 1.0, 2.0], True),  # non-finite is VALID (finite_spark path)
    ]

    def test_spark_and_duckdb_predicates_agree(self, spark, tmp_path):
        import duckdb
        from pyspark.sql import functions as F

        from jena_fuseki_kafka_spark.queries import (
            valid_vector_spark,
            valid_vector_sql,
        )

        path = str(tmp_path / "emb.parquet")
        _write_embeddings_parquet(
            path, [r[0] for r in self.ROWS], [r[1] for r in self.ROWS]
        )
        want = {r[0] for r in self.ROWS if r[2]}

        got_spark = {
            r.vec_id
            for r in spark.read.parquet(path)
            .filter(valid_vector_spark(F.col("embedding"), 3))
            .collect()
        }
        assert got_spark == want

        con = duckdb.connect()
        got_duck = {
            r[0]
            for r in con.execute(
                f"SELECT vec_id FROM read_parquet('{path}') "
                f"WHERE {valid_vector_sql('embedding', 3)}"
            ).fetchall()
        }
        assert got_duck == want

    def test_emb_loader_quarantines(self, spark, tmp_path):
        from jena_fuseki_kafka_spark.queries.similarity import DIM, _emb

        rows = [
            (0, [0.5] * DIM, 0),
            (1, None, 1),
            (2, [0.5] * (DIM // 2), 2),
            (3, ([0.5] * (DIM - 1)) + [None], 3),
        ]
        _write_embeddings_parquet(
            tmp_path / "embeddings.parquet",
            [r[0] for r in rows],
            [r[1] for r in rows],
            labels=[r[2] for r in rows],
        )
        got = {r.vec_id for r in _emb(spark, str(tmp_path)).collect()}
        assert got == {0}


class TestIncrementalAdmission:
    """s10 behavioral contract: the admission verdict covers every batch
    vector, and a batch vector planted as an exact duplicate of a corpus
    vector is rejected (is_new=0) with its duplicate as the nearest
    neighbor — the keep/drop semantics a continuously-fed corpus needs."""

    def _write(self, tmp_path, vecs):
        ids = sorted(vecs)
        _write_embeddings_parquet(
            tmp_path / "embeddings.parquet",
            ids,
            [vecs[i] for i in ids],
            labels=[0] * len(ids),
        )

    def test_verdict_covers_batch_and_flags_planted_dup(self, spark, tmp_path):
        import random

        from jena_fuseki_kafka_spark.queries.similarity import (
            DIM,
            S10_BATCH_MOD,
        )

        rng = random.Random(7)
        # corpus: ids not divisible by 5, including id 61 (a centroid
        # seed) so the cell geometry is non-degenerate; batch: mod-5 ids
        vecs = {}
        for i in range(1, 130):
            if i % S10_BATCH_MOD == 0:
                continue
            vecs[i] = [rng.uniform(-1, 1) for _ in range(DIM)]
        batch_ids = [5, 10, 15, 20, 25]
        for i in batch_ids:
            vecs[i] = [rng.uniform(-1, 1) for _ in range(DIM)]
        # plant: batch vec 10 duplicates corpus vec 61 exactly
        vecs[10] = list(vecs[61])
        # plant: batch vec 25 is the zero vector — structurally valid
        # (passes _emb) but every cosine it touches is NULL, so it must
        # come back scorable=0 rather than silently "new"
        vecs[25] = [0.0] * DIM
        # plant: corpus vec 73 is ALSO the zero vector — a corrupt
        # vector already resident in the index; any batch vector that
        # probes its cell must count it in n_null_cands (r15 facet)
        # while its NULL cosine keeps it out of n_cands/nearest
        vecs[73] = [0.0] * DIM
        self._write(tmp_path, vecs)

        out = {
            r.vec_id: r
            for r in QUERIES["s10_incremental_ann_admission"](
                spark, str(tmp_path)
            ).collect()
        }
        # one verdict row per batch vector, always
        assert set(out) == set(batch_ids)
        dup = out[10]
        assert dup.is_new == 0 and dup.n_matches >= 1
        assert dup.nearest == 61 and dup.best_cos == 1.0
        assert dup.scorable == 1
        zero = out[25]
        assert zero.scorable == 0 and zero.n_cands == 0 and zero.is_new == 1
        # the corrupt BATCH vector's exclusions are measured: every
        # candidate it touched was dropped for a NULL cosine
        assert zero.n_null_cands > 0
        # corpus-side: the corrupt resident vector 73 was met in a
        # probed cell by at least one healthy batch vector and counted,
        # without ever entering n_cands or nearest
        healthy = [out[i] for i in batch_ids if i != 25]
        assert sum(r.n_null_cands for r in healthy) >= 1
        assert all(r.nearest != 73 for r in healthy)
        # and the whole result matches the DuckDB oracle bit-for-bit
        oracle = _oracle_rows(
            ORACLES["s10_incremental_ann_admission"], str(tmp_path)
        )
        got = sorted(tuple(r) for r in out.values())
        assert got == sorted(tuple(r) for r in oracle)

    def test_no_corpus_candidates_means_new(self, spark, tmp_path):
        # a corpus whose only centroid-eligible cells exist but whose
        # batch vector is orthogonal to everything must still get a
        # verdict row: is_new=1 once nothing clears the threshold
        from jena_fuseki_kafka_spark.queries.similarity import DIM

        e = lambda k: [1.0 if d == k else 0.0 for d in range(DIM)]
        vecs = {61: e(0), 122: e(1), 5: e(2)}
        self._write(tmp_path, vecs)
        rows = QUERIES["s10_incremental_ann_admission"](
            spark, str(tmp_path)
        ).collect()
        assert len(rows) == 1 and rows[0].vec_id == 5
        assert rows[0].is_new == 1 and rows[0].n_matches == 0
        oracle = _oracle_rows(
            ORACLES["s10_incremental_ann_admission"], str(tmp_path)
        )
        assert sorted(tuple(r) for r in rows) == sorted(tuple(r) for r in oracle)


class TestS11PqAdc:
    """PQ/ADC invariants the oracle hash can't articulate on its own."""

    def test_output_shape_codes_and_distances(self, spark, sf_dir):
        from jena_fuseki_kafka_spark.queries.similarity import (
            N_QUERY_VECS,
            PQ_K,
            TOP_K,
        )

        rows = QUERIES["s11_pq_adc_topk"](spark, sf_dir).collect()
        assert len(rows) == N_QUERY_VECS * TOP_K
        by_q = {}
        for r in rows:
            by_q.setdefault(r.query_id, []).append(r)
            # codes are codebook ids (1-based, bounded by construction)
            for c in (r.c0, r.c1, r.c2, r.c3):
                assert 1 <= c <= PQ_K, r
            # squared-L2 ADC distances are non-negative when defined
            assert r.adc_dist is None or r.adc_dist >= 0.0, r
            assert r.vec_id != r.query_id, "self must be excluded"
        for q, rs in by_q.items():
            assert sorted(r.rk for r in rs) == list(range(1, TOP_K + 1))
            # ranking is (adc ASC NULLS LAST, vec_id) — verify monotone
            dists = [r.adc_dist for r in sorted(rs, key=lambda r: r.rk)]
            real = [d for d in dists if d is not None]
            assert real == sorted(real)
            assert dists[: len(real)] == real, "NULLs must rank last"

    def test_matches_oracle_standing_evidence(self, spark, sf_dir):
        # the s03b idiom: in-suite bit parity with the DuckDB oracle so a
        # regression shows up here, not only at the driver's check slot
        rows = QUERIES["s11_pq_adc_topk"](spark, sf_dir).collect()
        assert rows, "gate must be non-vacuous"
        oracle = _oracle_rows(ORACLES["s11_pq_adc_topk"], sf_dir)
        assert sorted(tuple(r) for r in rows) == sorted(tuple(r) for r in oracle)

    def test_codeword_encodes_to_itself(self, spark, sf_dir):
        # a codeword vector's sub-distance to its own codeword is exactly
        # 0.0 in every subspace, so its PQ code must be its own id in all
        # four — the invariant a mis-sliced subspace or an off-by-one in
        # the code numbering breaks first.  Reconstructed through the
        # same public expressions the gate uses.
        from pyspark.sql import functions as F

        from jena_fuseki_kafka_spark.queries.similarity import (
            PQ_CODE_MOD,
            PQ_K,
            PQ_M,
            _emb,
            _ssq_spark,
            _sub_spark,
        )

        e = _emb(spark, sf_dir)
        cw = e.filter(
            (F.col("vec_id") % PQ_CODE_MOD == 0)
            & (F.col("vec_id") < PQ_CODE_MOD * PQ_K)
        )
        self_d = cw.select(
            "vec_id",
            *[
                _ssq_spark(
                    _sub_spark(F.col("embedding"), m), _sub_spark(F.col("embedding"), m)
                ).alias(f"d{m}")
                for m in range(PQ_M)
            ],
        ).collect()
        assert self_d, "codebook must be non-empty on testdata"
        assert len(self_d) <= PQ_K
        for r in self_d:
            assert (r.d0, r.d1, r.d2, r.d3) == (0.0, 0.0, 0.0, 0.0), r


def test_ivf_oracle_cte_render_stability():
    """VERDICT r14 item 8: the triplicated IVF cell-assignment oracle
    CTEs (s04/s09/s10) were parameterized into _centroid_cte_sql /
    _cell_cte_sql under the same proof standard as the Spark-side
    _assign_cells dedup — the refactor landed only because the rendered
    SQL was byte-identical to the previously inlined strings.  Pin the
    rendered bytes so a helper edit cannot silently re-shape all three
    oracles at once: an intentional change must update these hashes AND
    re-run the three gates' oracle parity in the same commit."""
    import hashlib

    from jena_fuseki_kafka_spark.queries import ORACLES

    pinned = {
        "s04_ann_ivf": "8d38c6208801e944",
        "s09_semdedup_prune": "0c74e843fd651b1c",
        # s10 pin updated r15 in the same commit as the n_null_cands
        # facet widening; parity re-verified vs DuckDB at sf0.01 then.
        "s10_incremental_ann_admission": "4a2ef4447eff8bd2",
    }
    for name, want in pinned.items():
        got = hashlib.sha256(ORACLES[name].encode()).hexdigest()[:16]
        assert got == want, (
            f"{name}: rendered oracle SQL changed ({got} != {want}) — if "
            "intentional, update the pin and re-verify the gate vs DuckDB"
        )
