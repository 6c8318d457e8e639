"""Similarity search over the ``embeddings`` table (array<float> column).

- s01: brute-force cosine top-k — the correctness baseline.  The dot
  product is a JVM-side ``aggregate(zip_with(...))`` expression, not a
  Python UDF; query vectors are a broadcast side.
- s02: LSH-bucketed ANN (random-hyperplane signs with deterministic
  md5-derived hyperplanes) — the scale path: candidates come from a bucket
  equi-join, so the pair space is linear-ish in rows instead of q x n.
  Deterministic hyperplanes make the DuckDB oracle reproduce the exact same
  buckets, so results hash-match.
- s03: embedding-cosine near-duplicate pairs (dedup by vector similarity).

All cosines are computed in double with the same left-to-right summation
order in both engines, then rounded to 4 decimals.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from . import (
    const_array,
    fan_out,
    finite_spark,
    load,
    query,
    valid_vector_spark,
    valid_vector_sql,
)
from ..checkpointing import stable_checkpoint

TOP_K = 10
N_QUERY_VECS = 5  # vec_id 0..4 are the query set
N_PLANES = 8
DIM = 64
NEAR_DUP_COSINE = 0.95


def _emb(spark, sf_dir):
    """Embeddings scan with the structural-validity quarantine: NULL
    arrays, wrong-width vectors and NULL components are dropped at the
    scan on BOTH engines (see queries.valid_vector_spark for why the
    engines' list primitives diverge on such rows — DuckDB's list_sum
    would compute silently PARTIAL dots).  Row-local predicate, no
    exchange; at 100 TB the same rule runs once at ingest and the
    per-query filter collapses against the already-clean store."""
    return load(spark, sf_dir, "embeddings").filter(
        valid_vector_spark(F.col("embedding"), DIM)
    )


# oracle twin: every s-gate's SQL reads embeddings through this relation
_EMB = f"(SELECT * FROM embeddings WHERE {valid_vector_sql('embedding', DIM)})"


def _dot_spark(a, b):
    """dot(a,b), left-to-right summation — identical order to the oracle's
    ``list_sum(list_transform(list_zip(...)))`` so doubles are bit-equal."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm_spark(a):
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )


def _nan_to_null(col):
    """Non-finite cosines must not survive: a NaN/Inf embedding component
    (a failed encoder emits them) makes the cosine NaN or ±Inf, and BOTH
    engines order NaN/+Inf above every real number and evaluate
    ``NaN >= t`` / ``Inf >= t`` as TRUE — so without this guard one
    corrupt vector near-duplicates the entire corpus and ranks first in
    every top-k.  Mapping non-finite -> NULL gives it the zero-norm
    treatment: it falls out of thresholds and sorts NULLS LAST in the
    (explicitly pinned) ranking windows.  Routed through the shared
    ``queries.finite_spark`` (ADVICE r11) so there is ONE non-finite
    helper definition repo-wide — the bare ``nanvl`` this replaces let a
    ±Inf cosine (overflowing dot with a finite norm product) through.
    The SQL twin wraps _COS_SQL in nested ``nullif``s for 'nan', 'inf'
    and '-inf' — NaN = NaN and Inf = Inf are TRUE under both engines'
    total order, so nullif catches all three."""
    return finite_spark(col)


def _cos_spark(a, b):
    """cosine(a,b) as a JVM expression; inputs array<float> -> double.

    Only used where one side is per-row unique; when the same vector meets
    many partners (every join below), precompute the norms per ROW and pay
    only the dot per PAIR — the norms are the same doubles either way, so
    rounding is unaffected.

    try_divide, not ``/``: a ZERO-NORM vector (all-zeros embedding —
    inevitable in a real corpus: failed encoder call, padded row) makes
    the denominator 0, which is a JOB ABORT under ANSI mode.  A NULL
    cosine instead falls out of every ``>= threshold`` filter and sorts
    NULLS LAST in every ranking window on both engines — DuckDB's
    ``x / 0.0`` already yields NULL, so _COS_SQL needs no twin change.
    Every inline dot/(na*nb) site below uses the same try_divide."""
    return _nan_to_null(F.try_divide(_dot_spark(a, b), _norm_spark(a) * _norm_spark(b)))


_COS_SQL = (
    "nullif(nullif(nullif("
    "list_sum(list_transform(list_zip({a}, {b}), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))"
    " / (sqrt(list_sum(list_transform({a}, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))"
    " * sqrt(list_sum(list_transform({b}, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))))"
    ", CAST('nan' AS DOUBLE)), CAST('inf' AS DOUBLE)), CAST('-inf' AS DOUBLE))"
)


@query(
    "s01_ann_bruteforce_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM {_EMB}
               WHERE vec_id < {N_QUERY_VECS}),
    scored AS (
      SELECT q.query_id, e.vec_id,
             ROUND({_COS_SQL.format(a='q.qv', b='e.embedding')}, 4) AS cosine
      FROM q JOIN {_EMB} e ON e.vec_id != q.query_id
    ),
    ranked AS (
      SELECT query_id, vec_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC NULLS LAST, vec_id) AS rk
      FROM scored
    )
    SELECT query_id, vec_id, cosine, rk FROM ranked WHERE rk <= {TOP_K}
    ORDER BY query_id, rk
    """,
)
def s01(spark, sf_dir):
    """Brute-force cosine top-k: broadcast the query set, score every row,
    per-query window top-k.  At 100 TB this is the rerank stage; s02 is the
    candidate-generation stage."""
    from pyspark.sql import Window

    e = _emb(spark, sf_dir).withColumn("nrm", _norm_spark(F.col("embedding")))
    q = e.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"), F.col("nrm").alias("qn")
    )
    cos = _nan_to_null(F.try_divide(_dot_spark(F.col("qv"), F.col("embedding")), F.col("qn") * F.col("nrm")))
    scored = (
        e.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", F.round(cos, 4).alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc_nulls_last("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOP_K)
        .select("query_id", "vec_id", "cosine", "rk")
        .orderBy("query_id", "rk")
    )


def _plane_sign_sql(vec: str, plane: int) -> str:
    """Deterministic hyperplane sign: plane p has component
    sign(bit of md5) in {-1,+1} per dimension; sign of the dot product."""
    terms = " + ".join(
        "(CASE WHEN ('0x'||substr(md5('{p}:{d}'),1,15))::BIGINT & 1 = 1 THEN 1 ELSE -1 END)"
        " * CAST({v}[{d1}] AS DOUBLE)".format(p=plane, d=d, v=vec, d1=d + 1)
        for d in range(DIM)
    )
    return f"(CASE WHEN {terms} >= 0 THEN 1 ELSE 0 END)"


def _bucket_sql(vec: str) -> str:
    return " + ".join(f"({_plane_sign_sql(vec, p)} * {1 << p})" for p in range(N_PLANES))


def _plane_signs(plane: int) -> list[float]:
    import hashlib

    # driver-side precompute of the deterministic hyperplane (+1/-1 per dim),
    # matching the oracle's md5-parity formula bit-for-bit
    return [
        1.0 if (int(hashlib.md5(f"{plane}:{d}".encode()).hexdigest()[:15], 16) & 1) == 1 else -1.0
        for d in range(DIM)
    ]


def _bucket_spark(vec):
    """All 8 hyperplane sign bits in ONE pass over the embedding array.

    The accumulator is an 8-wide running-dot array: each dimension
    contributes ``x_d * sign(p, d)`` to every plane's sum in the same
    left-to-right dimension order as the DuckDB oracle, so the doubles (and therefore the >= 0 sign decisions) are
    bit-identical.  One fold of width 8 replaces 8 independent
    ``aggregate(zip_with(...))`` passes — 8x fewer array traversals per
    row, and the 64x8 sign matrix is a single Literal node instead of 512
    expression nodes (measured: bucket stage 0.87s -> 0.64s at sf0.1,
    identical buckets on every row)."""
    # const_array, not F.lit(list): the 64x8 nested-list lit costs ~0.7s
    # of py4j conversion per query build (one call per element); the
    # one-parse form is ~1ms and folds to the identical Literal
    signs_by_dim = const_array(
        [[_plane_signs(p)[d] for p in range(N_PLANES)] for d in range(DIM)]
    )
    dots = F.aggregate(
        F.zip_with(
            vec,
            signs_by_dim,
            lambda x, srow: F.transform(srow, lambda s: x.cast("double") * s),
        ),
        const_array([0.0] * N_PLANES),
        lambda acc, contrib: F.zip_with(acc, contrib, lambda a, b: a + b),
    )
    bucket = None
    for p in range(N_PLANES):
        term = F.when(F.element_at(dots, p + 1) >= 0, F.lit(1 << p)).otherwise(F.lit(0))
        bucket = term if bucket is None else bucket + term
    return bucket


@query(
    "s02_ann_lsh_bucketed",
    oracle=f"""
    WITH b AS (
      SELECT vec_id, embedding, {_bucket_sql('embedding')} AS bucket FROM {_EMB}
    ),
    q AS (SELECT vec_id AS query_id, embedding AS qv, bucket FROM b
          WHERE vec_id < {N_QUERY_VECS}),
    cands AS (
      SELECT q.query_id, e.vec_id, q.qv, e.embedding
      FROM q JOIN b e ON e.bucket = q.bucket AND e.vec_id != q.query_id
    ),
    scored AS (
      SELECT query_id, vec_id,
             ROUND({_COS_SQL.format(a='qv', b='embedding')}, 4) AS cosine
      FROM cands
    ),
    ranked AS (
      SELECT query_id, vec_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC NULLS LAST, vec_id) AS rk,
             CAST(COUNT(*) OVER (PARTITION BY query_id) AS BIGINT) AS n_cands
      FROM scored
    )
    SELECT query_id, vec_id, cosine, rk, n_cands FROM ranked WHERE rk <= {TOP_K}
    ORDER BY query_id, rk
    """,
)
def s02(spark, sf_dir):
    """LSH-bucketed ANN: 8 random-hyperplane sign bits -> bucket id; search
    only within the query's bucket.  Candidate generation is an equi-join on
    bucket (shuffle ~ rows, not q x rows) — the 100 TB path.  The n_cands
    facet (r11) pins each query's CANDIDATE-SET size — the LSH selectivity
    invariant itself: a bucket function that drifted (hashing, sign
    convention, plane order) would admit a different candidate set even
    when the final top-k happens to coincide; it rides the same query_id
    partition the ranking window already shuffled, so no extra exchange."""
    from pyspark.sql import Window

    e = fan_out(_emb(spark, sf_dir))
    b = e.select(
        "vec_id",
        "embedding",
        _bucket_spark(F.col("embedding")).alias("bucket"),
        _norm_spark(F.col("embedding")).alias("nrm"),
    )
    q = b.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"), "bucket", F.col("nrm").alias("qn")
    )
    cands = b.join(F.broadcast(q), "bucket").filter(F.col("vec_id") != F.col("query_id"))
    cos = _nan_to_null(F.try_divide(_dot_spark(F.col("qv"), F.col("embedding")), F.col("qn") * F.col("nrm")))
    scored = cands.select("query_id", "vec_id", F.round(cos, 4).alias("cosine"))
    w = Window.partitionBy("query_id").orderBy(F.desc_nulls_last("cosine"), F.asc("vec_id"))
    wq = Window.partitionBy("query_id")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .withColumn("n_cands", F.count(F.lit(1)).over(wq).cast("long"))
        .filter(F.col("rk") <= TOP_K)
        .select("query_id", "vec_id", "cosine", "rk", "n_cands")
        .orderBy("query_id", "rk")
    )


N_PROBE = 2
CENTROID_MOD = 61  # vec_id % 61 == 0 -> centroid seed (~n/61 coarse cells)


def _centroid_cte_sql(src: str) -> str:
    """The shared centroid-seed CTE of the IVF oracle family (s04/s09/
    s10): every vec_id ≡ 0 (mod CENTROID_MOD) in ``src`` seeds a coarse
    cell.  VERDICT r14 item 8: the Spark side was deduped into
    `_assign_cells` with a plan-identity proof; this is the oracle-side
    counterpart, accepted only because the rendered SQL is byte-identical
    to the previously inlined strings (asserted by
    tests/test_similarity.py::test_ivf_oracle_cte_render_stability)."""
    return f"""c AS (
      SELECT vec_id AS cid, embedding AS cv FROM {src}
      WHERE vec_id % {CENTROID_MOD} = 0
    )"""


def _cell_cte_sql(name: str, rel: str, cos: str, extra: str = "") -> str:
    """The shared nearest-cell ranking CTE: every vector in ``rel``
    scored against every centroid, ranked per vector by (sim DESC NULLS
    LAST, cid) — crk = 1 is the single-cell assignment, crk <= N_PROBE
    the probe set.  ``cos`` is the cosine SQL for the e×c pair (callers
    with two-stage .format templating pass the literal placeholder);
    ``extra`` prepends extra projection columns (s04 keeps ``sim``).
    Byte-identical render to the pre-refactor inline strings — see
    _centroid_cte_sql."""
    return f"""{name} AS (
      SELECT vec_id, embedding, cid, {extra}ROW_NUMBER() OVER (
               PARTITION BY vec_id ORDER BY sim DESC NULLS LAST, cid) AS crk
      FROM (
        SELECT e.vec_id, e.embedding, c.cid,
               {cos} AS sim
        FROM {rel} e CROSS JOIN c
      )
    )"""


def _near_dup_oracle(threshold: float) -> str:
    return f"""
    WITH c AS (
      SELECT vec_id AS cid, embedding AS cv FROM {_EMB}
      WHERE vec_id % {CENTROID_MOD} = 0
    ),
    cell AS (
      SELECT vec_id, embedding, cid, ROW_NUMBER() OVER (
               PARTITION BY vec_id ORDER BY sim DESC NULLS LAST, cid) AS crk
      FROM (
        SELECT e.vec_id, e.embedding, c.cid,
               {_COS_SQL.format(a='e.embedding', b='c.cv')} AS sim
        FROM {_EMB} e CROSS JOIN c
      )
    ),
    blocks AS (SELECT vec_id, embedding, cid FROM cell WHERE crk <= {N_PROBE}),
    pairs AS (
      SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b,
             a.embedding AS ea, b.embedding AS eb
      FROM blocks a JOIN blocks b
        ON a.cid = b.cid AND a.vec_id < b.vec_id
    )
    SELECT vec_a, vec_b,
           ROUND({_COS_SQL.format(a='ea', b='eb')}, 4) AS cosine
    FROM pairs
    WHERE {_COS_SQL.format(a='ea', b='eb')} >= {threshold}
    ORDER BY vec_a, vec_b
    """


def _near_dup(spark, sf_dir, threshold: float, ordered: bool = True):
    """Embedding-cosine near-duplicate pairs, blocked by the SAME coarse
    quantizer s04's IVF index uses: every vector lands in its N_PROBE
    nearest cells (multi-probe catches pairs straddling one boundary),
    candidate pairs come from a cell-id EQUI-join, and only candidates pay
    the exact cosine.  Block size is bounded by cell population (~n /
    (n/{CENTROID_MOD}) = {CENTROID_MOD} x {N_PROBE} expected members), not
    by the cardinality of a data-supplied label column — the unbounded-
    block failure the previous label-blocked version had at scale."""
    from pyspark.sql import Window

    e = _emb(spark, sf_dir).withColumn("nrm", _norm_spark(F.col("embedding")))
    c = e.filter(F.col("vec_id") % CENTROID_MOD == 0).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv"), F.col("nrm").alias("cn")
    )
    sim = _nan_to_null(F.try_divide(_dot_spark(F.col("embedding"), F.col("cv")), F.col("nrm") * F.col("cn")))
    wc = Window.partitionBy("vec_id").orderBy(F.desc_nulls_last("sim"), F.asc("cid"))
    # lazy localCheckpoint (the d-family materialization pattern): blocks
    # feeds BOTH sides of the pair self-join below, and without it the
    # corpus x centroid scoring + probe window run TWICE (r15 plan
    # audit: two full BNLJ-cross + window subtrees in the before-plan);
    # at 100 TB that is two corpus scoring passes where one suffices
    blocks = (
        e.crossJoin(F.broadcast(c))
        .select("vec_id", "embedding", "nrm", "cid", sim.alias("sim"))
        .withColumn("crk", F.row_number().over(wc))
        .filter(F.col("crk") <= N_PROBE)
        .select("vec_id", "embedding", "nrm", "cid")
        .transform(stable_checkpoint, eager=False)
    )
    a = blocks.select(
        F.col("vec_id").alias("vec_a"), F.col("cid"),
        F.col("embedding").alias("ea"), F.col("nrm").alias("na"),
    )
    b = blocks.select(
        F.col("vec_id").alias("vec_b"), F.col("cid"),
        F.col("embedding").alias("eb"), F.col("nrm").alias("nb"),
    )
    cos = _nan_to_null(F.try_divide(_dot_spark(F.col("ea"), F.col("eb")), F.col("na") * F.col("nb")))
    out = (
        a.join(b, "cid")
        .filter(F.col("vec_a") < F.col("vec_b"))
        # a pair sharing BOTH probed cells appears twice -> dedup on ids
        # BEFORE paying the exact cosine
        .dropDuplicates(["vec_a", "vec_b"])
        .filter(cos >= threshold)
        .select("vec_a", "vec_b", F.round(cos, 4).alias("cosine"))
    )
    # ordered=False (r16): s06 feeds the pairs into connected components,
    # which EAGERLY materializes the symmetrized edge list — the global
    # sort would execute inside that checkpoint as a pure-waste range
    # exchange (same rationale as dedup._minhash_pairs)
    if ordered:
        out = out.orderBy("vec_a", "vec_b")
    return out


@query("s03_embedding_near_dup", oracle=_near_dup_oracle(NEAR_DUP_COSINE))
def s03(spark, sf_dir):
    """Near-dup pairs at the production 0.95 threshold (see _near_dup)."""
    return _near_dup(spark, sf_dir, NEAR_DUP_COSINE)


LOW_T_COSINE = 0.30  # testdata embeddings are near-orthogonal: 0.95 yields
# zero pairs at sf<=0.1, making the driver gate vacuous (0 rows == 0 rows).
# The lowered-threshold variant forces the whole pipeline — quantizer,
# multi-probe blocking, pair dedup, exact cosine — to produce and match a
# NON-EMPTY result set (611 rows at sf0.01), so the standing driver
# evidence actually exercises the operator.


@query("s03b_embedding_near_dup_lowt", oracle=_near_dup_oracle(LOW_T_COSINE))
def s03b(spark, sf_dir):
    """Non-vacuous near-dup gate: same pipeline as s03 at threshold 0.30."""
    return _near_dup(spark, sf_dir, LOW_T_COSINE)


@query(
    "s06_embedding_dup_clusters",
    oracle=f"""
    WITH RECURSIVE pairs AS (
      SELECT vec_a, vec_b FROM ({_near_dup_oracle(LOW_T_COSINE)}) p
    ),
    edges AS (
      SELECT vec_a AS a, vec_b AS b FROM pairs
      UNION
      SELECT vec_b AS a, vec_a AS b FROM pairs
    ),
    reach(v, r) AS (
      SELECT DISTINCT a, a FROM edges
      UNION
      SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.v
    )
    SELECT v AS vec_id, MIN(r) AS cluster
    FROM reach GROUP BY v ORDER BY vec_id
    """,
)
def s06(spark, sf_dir):
    """Semantic dedup CLUSTER assignment: connected components over the
    embedding-cosine near-dup pair graph (s03's IVF-blocked pipeline),
    cluster id = min vec_id — the curator keeps one representative per
    semantic duplicate group.  Same HashMin label propagation as d06
    (queries/dedup.py:connected_components): O(diameter) rounds, each an
    |edges|-bounded shuffle, no all-pairs path anywhere."""
    from .dedup import connected_components

    pairs = _near_dup(spark, sf_dir, LOW_T_COSINE, ordered=False).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
    )
    return connected_components(pairs).select(
        F.col("v").alias("vec_id"), F.col("comp").alias("cluster")
    ).orderBy("vec_id")


@query(
    "s04_ann_ivf",
    oracle=f"""
    WITH {_centroid_cte_sql(_EMB)},
    {_cell_cte_sql("cell", _EMB, _COS_SQL.format(a='e.embedding', b='c.cv'), extra="sim, ")},
    assign AS (SELECT vec_id, embedding, cid FROM cell WHERE crk = 1),
    probes AS (
      SELECT vec_id AS query_id, embedding AS qv, cid
      FROM cell WHERE vec_id < {N_QUERY_VECS} AND crk <= {N_PROBE}
    ),
    cands AS (
      SELECT DISTINCT p.query_id, p.qv, a.vec_id, a.embedding
      FROM probes p JOIN assign a ON a.cid = p.cid AND a.vec_id != p.query_id
    ),
    ranked AS (
      SELECT query_id, vec_id,
             ROUND({_COS_SQL.format(a='qv', b='embedding')}, 4) AS cosine,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY
               ROUND({_COS_SQL.format(a='qv', b='embedding')}, 4) DESC NULLS LAST, vec_id) AS rk
      FROM cands
    )
    SELECT query_id, vec_id, cosine, rk FROM ranked WHERE rk <= {TOP_K}
    ORDER BY query_id, rk
    """,
)
def s04(spark, sf_dir):
    """IVF-style ANN: a deterministic coarse quantizer (every 61st vec_id
    seeds a cell; at scale these are k-means centroids), each vector
    assigned to its nearest cell, queries probing the N_PROBE nearest cells
    and scoring only those cells' members.  The centroid set is broadcast;
    the cell search is an equi-join on cell id — shuffle is linear in rows
    and the probe fan-out, never q x n.  This is the inverted-file layout
    FAISS-style systems use; the cells map 1:1 to partition pruning when the
    table is written bucketed by cell id."""
    from pyspark.sql import Window

    e = _emb(spark, sf_dir).withColumn("nrm", _norm_spark(F.col("embedding")))
    c = e.filter(F.col("vec_id") % CENTROID_MOD == 0).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv"), F.col("nrm").alias("cn")
    )
    sim = _nan_to_null(F.try_divide(_dot_spark(F.col("embedding"), F.col("cv")), F.col("nrm") * F.col("cn")))
    scored_c = e.crossJoin(F.broadcast(c)).select(
        "vec_id", "embedding", "nrm", "cid", sim.alias("sim")
    )
    # nearest-cell assignment as a hash aggregate (max_by with the same
    # (sim DESC, cid ASC) tiebreak the oracle's window uses) — no global
    # sort; the per-group embedding is constant so first() is exact
    assign = scored_c.groupBy("vec_id").agg(
        F.max_by("cid", F.struct(F.col("sim"), -F.col("cid"))).alias("cid"),
        F.first("embedding").alias("embedding"),
        F.first("nrm").alias("nrm"),
    )
    # probe ranking needs top-N_PROBE only for the query vectors: window
    # over a 5-row-per-query slice, not the whole table
    wc = Window.partitionBy("vec_id").orderBy(F.desc_nulls_last("sim"), F.asc("cid"))
    probes = (
        scored_c.filter(F.col("vec_id") < N_QUERY_VECS)
        .withColumn("crk", F.row_number().over(wc))
        .filter(F.col("crk") <= N_PROBE)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"), F.col("nrm").alias("qn"), "cid")
    )
    cands = (
        assign.join(F.broadcast(probes), "cid")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "qv", "qn", "vec_id", "embedding", "nrm")
        .distinct()
    )
    cos = F.round(_nan_to_null(F.try_divide(_dot_spark(F.col("qv"), F.col("embedding")), F.col("qn") * F.col("nrm"))), 4)
    wq = Window.partitionBy("query_id").orderBy(F.desc_nulls_last("cosine"), F.asc("vec_id"))
    return (
        cands.select("query_id", "vec_id", cos.alias("cosine"))
        .withColumn("rk", F.row_number().over(wq))
        .filter(F.col("rk") <= TOP_K)
        .select("query_id", "vec_id", "cosine", "rk")
        .orderBy("query_id", "rk")
    )


# ---------------------------------------------------------------- s05 recall
# the standard ANN evaluation: recall@k of the IVF index against the
# brute-force ground truth.  Both oracles are already registered — the
# gate's oracle nests them as CTEs, so the DuckDB side recomputes BOTH
# algorithms independently and the driver cross-checks Spark's join too.
from . import ORACLES as _ORACLES  # noqa: E402


@query(
    "s05_ann_recall_gate",
    oracle=f"""
    WITH exact_r AS ({_ORACLES["s01_ann_bruteforce_topk"]}),
    approx_r AS ({_ORACLES["s04_ann_ivf"]})
    SELECT e.query_id,
           CAST(SUM(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
           ROUND(SUM(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END) / {TOP_K}.0, 4)
             AS recall_at_k
    FROM exact_r e
    LEFT JOIN approx_r a ON a.query_id = e.query_id AND a.vec_id = e.vec_id
    GROUP BY e.query_id
    ORDER BY e.query_id
    """,
)
def s05(spark, sf_dir):
    """Recall@k of the IVF index (s04) against brute-force ground truth
    (s01) — the eval loop every production ANN deployment runs before
    trusting an index.  Ground truth is 5 queries x top-10 (tiny), so the
    comparison join broadcasts; the heavy lifting is the two underlying
    searches, each already scale-shaped (see s01/s04 docstrings)."""
    exact = s01(spark, sf_dir).select("query_id", "vec_id")
    approx = s04(spark, sf_dir).select(
        F.col("query_id").alias("aq"), F.col("vec_id").alias("av"), F.lit(1).alias("hit")
    )
    joined = exact.join(
        F.broadcast(approx),
        (F.col("query_id") == F.col("aq")) & (F.col("vec_id") == F.col("av")),
        "left",
    )
    n_hits = F.sum(F.coalesce(F.col("hit"), F.lit(0)))
    return (
        joined.groupBy("query_id")
        .agg(
            n_hits.cast("long").alias("n_hits"),
            F.round(n_hits / TOP_K, 4).alias("recall_at_k"),
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------- s07 int8 quantization
# Scalar int8 quantization — the memory-bound ANN scale path: a 64-dim
# float32 vector is 256 bytes; int8 + one float scale is 68, so a 100 TB
# embedding store becomes ~27 TB and dot products run on int8 SIMD.  The
# quantizer is symmetric per-vector max-abs: scale = max|v| / 127,
# q_i = floor(v_i/scale + 0.5) (floor(+0.5) instead of round() because
# the two engines disagree on round-half ties, while IEEE floor is
# bit-identical everywhere).
@query(
    "s07_int8_quantization",
    oracle=f"""
    WITH scaled AS (
      SELECT vec_id,
             list_max(list_transform(embedding, x -> ABS(CAST(x AS DOUBLE)))) / 127.0 AS s,
             embedding
      FROM {_EMB}
    ),
    quant AS (
      SELECT vec_id,
             CASE WHEN s = 0 OR NOT isfinite(s) THEN list_transform(embedding, x -> 0)
                  ELSE list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) / s + 0.5) AS INT))
             END AS qv
      FROM scaled
    )
    SELECT a.vec_id,
           CAST(list_sum(a.qv) AS BIGINT) AS sum_q,
           CAST(list_sum(list_transform(a.qv, x -> ABS(x))) AS BIGINT) AS l1_q,
           CAST(list_max(list_transform(a.qv, x -> ABS(x))) AS BIGINT) AS max_abs_q,
           CAST(list_sum(list_transform(range(1, len(a.qv) + 1), i -> a.qv[i] * b.qv[i]))
                AS BIGINT) AS qdot_next
    FROM quant a LEFT JOIN quant b ON b.vec_id = a.vec_id + 1
    ORDER BY a.vec_id
    """,
)
def s07(spark, sf_dir):
    """Symmetric int8 scalar quantization of the embedding column with
    integer-exact verification facets: per-vector quantized sum, L1 mass,
    max magnitude (127 by construction for any non-zero vector — the facet
    a mis-scaled quantizer fails), and the int32 DOT PRODUCT of each
    vector with its successor — the actual inference-path operation, exact
    integers so no float-summation ambiguity exists between engines.

    Scale shape: quantization is a per-row map (zero shuffle); the
    neighbor dot is ONE equi-join on vec_id+1 standing in for the real
    candidate join (s02/s04 supply candidates at scale).  Everything is
    JVM ``transform``/``aggregate`` expressions — no Python UDF, no
    driver collect."""
    e = _emb(spark, sf_dir).select("vec_id", "embedding")
    s = F.array_max(F.transform("embedding", lambda x: F.abs(x.cast("double")))) / 127.0
    scaled = e.withColumn("s", s)
    # a non-finite scale (any NaN component makes max_abs NaN; any Inf
    # component makes it Inf, so finite/Inf -> 0.0 and Inf/Inf -> NaN)
    # would abort the int cast on BOTH engines — quantize such corrupt
    # vectors to the zero vector exactly like the zero-norm case, with
    # NOT isfinite(s) mirrored in the oracle.  The non-finite test must
    # be s.isNotNull() & finite_spark(s).isNull() — NOT bare isNull() —
    # because a NULL s (all-NULL-element embedding) takes the oracle's
    # ELSE branch (NOT isfinite(NULL) is NULL), yielding NULL facets on
    # both engines; routing NULL s to the zero branch would emit 0
    # where DuckDB emits NULL.
    nonfinite_s = F.col("s").isNotNull() & finite_spark(F.col("s")).isNull()
    qv = F.when(
        (F.col("s") == 0.0) | nonfinite_s,
        F.transform("embedding", lambda x: F.lit(0)),
    ).otherwise(
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") / F.col("s") + 0.5).cast("int"),
        )
    )
    quant = scaled.select("vec_id", qv.alias("qv"))
    isum = lambda col: F.aggregate(col, F.lit(0).cast("long"), lambda acc, v: acc + v)
    a = quant.select(F.col("vec_id"), F.col("qv"))
    b = quant.select((F.col("vec_id") - 1).alias("vec_id"), F.col("qv").alias("qv_next"))
    joined = a.join(b, "vec_id", "left")
    qdot = F.when(
        F.col("qv_next").isNull(), F.lit(None).cast("long")
    ).otherwise(isum(F.zip_with("qv", "qv_next", lambda x, y: x * y)))
    return joined.select(
        "vec_id",
        isum(F.col("qv")).alias("sum_q"),
        isum(F.transform("qv", lambda v: F.abs(v))).alias("l1_q"),
        F.array_max(F.transform("qv", lambda v: F.abs(v))).cast("long").alias("max_abs_q"),
        qdot.alias("qdot_next"),
    ).orderBy("vec_id")


# ---------------------------------------------------------------- s08 prefix-dim rerank
PREFIX_DIM = 16
COARSE_C = 50


@query(
    "s08_prefix_dim_rerank",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM {_EMB}
               WHERE vec_id < {N_QUERY_VECS}),
    coarse AS (
      SELECT q.query_id, e.vec_id, e.embedding, q.qv,
             ROUND({_COS_SQL.format(a='q.qv[1:16]', b='e.embedding[1:16]')}, 4) AS coarse_cos
      FROM q JOIN {_EMB} e ON e.vec_id != q.query_id
    ),
    cand AS (
      SELECT query_id, vec_id, embedding, qv, coarse_cos,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY coarse_cos DESC NULLS LAST, vec_id) AS crk
      FROM coarse
    ),
    rerank AS (
      SELECT query_id, vec_id, coarse_cos,
             ROUND({_COS_SQL.format(a='qv', b='embedding')}, 4) AS cosine
      FROM cand WHERE crk <= {COARSE_C}
    ),
    ranked AS (
      SELECT query_id, vec_id, coarse_cos, cosine,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC NULLS LAST, vec_id) AS rk
      FROM rerank
    )
    SELECT query_id, vec_id, coarse_cos, cosine, rk
    FROM ranked WHERE rk <= {TOP_K}
    ORDER BY query_id, rk
    """,
)
def s08(spark, sf_dir):
    """PREFIX-DIMENSION two-stage retrieval (the Matryoshka-style scale
    trick): stage 1 ranks every candidate by cosine over only the FIRST
    {PREFIX_DIM} of {DIM} dimensions — at 100 TB that is the lever, a 4x
    cut in bytes read and multiplies computed for the scan-heavy pass —
    and keeps the top {COARSE_C} per query; stage 2 re-ranks just that
    bounded candidate set with the exact full-dimension cosine and emits
    the top {TOP_K}.

    Scale shape: the coarse pass is the only corpus-wide work (broadcast
    query set, per-row JVM slice+dot, per-query window top-C); the rerank
    touches C rows per query regardless of corpus size.  Both stages use
    the family's deterministic double machinery (left-to-right summation,
    round-4) so the DuckDB oracle reproduces candidate sets and ranks
    exactly — coarse_cos is emitted next to the exact cosine, pinning the
    stage-1 ranking itself, not just the final answer.

    The coarse projection drops ``embedding``/``qv`` BEFORE the top-C
    window (VERDICT r8 item 3): the exchange feeding the window carries
    only (query_id, vec_id, coarse_cos) — ~24 bytes/row instead of
    2 x DIM doubles — so the shuffle stays cheap even if the optimizer's
    partial WindowGroupLimit (pinned in test_plan_shape.py) ever stopped
    applying.  The bounded candidate set (<= C per query) is then
    broadcast back against the embeddings scan to fetch full vectors for
    the exact rerank — correctness of the shuffle bound no longer depends
    on an optimizer rewrite."""
    from pyspark.sql import Window

    e = _emb(spark, sf_dir)
    q = e.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    qpre = F.slice(F.col("qv"), 1, PREFIX_DIM)
    epre = F.slice(F.col("embedding"), 1, PREFIX_DIM)
    coarse_cos = _nan_to_null(F.try_divide(_dot_spark(qpre, epre), _norm_spark(qpre) * _norm_spark(epre)))
    coarse = e.join(F.broadcast(q), F.col("vec_id") != F.col("query_id")).select(
        "query_id", "vec_id", F.round(coarse_cos, 4).alias("coarse_cos")
    )
    wc = Window.partitionBy("query_id").orderBy(F.desc_nulls_last("coarse_cos"), F.asc("vec_id"))
    cand = (
        coarse.withColumn("crk", F.row_number().over(wc))
        .filter(F.col("crk") <= COARSE_C)
        .select("query_id", "vec_id", "coarse_cos")
    )
    full_cos = _nan_to_null(
        F.try_divide(
            _dot_spark(F.col("qv"), F.col("embedding")),
            _norm_spark(F.col("qv")) * _norm_spark(F.col("embedding")),
        )
    )
    rerank = (
        e.select("vec_id", "embedding")
        .join(F.broadcast(cand), "vec_id")
        .join(F.broadcast(q), "query_id")
        .select("query_id", "vec_id", "coarse_cos", F.round(full_cos, 4).alias("cosine"))
    )
    wr = Window.partitionBy("query_id").orderBy(F.desc_nulls_last("cosine"), F.asc("vec_id"))
    return (
        rerank.withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") <= TOP_K)
        .select("query_id", "vec_id", "coarse_cos", "cosine", "rk")
        .orderBy("query_id", "rk")
    )


def _assign_cells(rel, c):
    """Single-cell IVF assignment shared by s09/s10 (review r14 dedup):
    every vector in ``rel`` (vec_id, embedding, nrm) is assigned to its
    nearest centroid in ``c`` (cid, cv, cn) as ONE hash aggregate —
    max_by over struct(sim, -cid) reproduces the oracle windows'
    (sim DESC NULLS LAST, cid ASC) tiebreak without sorting the corpus.
    The centroid table broadcasts (bounded by construction); the only
    exchange is the groupBy.  s04 keeps its own inline copy because it
    reuses the intermediate scored relation for its probe ranking.
    Refactor verified plan-identical (normalized formatted-explain
    strings byte-equal pre/post) for s09 — the only caller that existed
    before the extraction; s10 was born on this helper, so its coverage
    is its own oracle-parity gate plus the plan-shape broadcast-count
    test, not a pre/post plan diff (ADVICE r14)."""
    sim = _nan_to_null(
        F.try_divide(_dot_spark(F.col("embedding"), F.col("cv")), F.col("nrm") * F.col("cn"))
    )
    return (
        rel.crossJoin(F.broadcast(c))
        .select("vec_id", "embedding", "nrm", "cid", sim.alias("sim"))
        .groupBy("vec_id")
        .agg(
            F.max_by("cid", F.struct(F.col("sim"), -F.col("cid"))).alias("cid"),
            F.first("embedding").alias("embedding"),
            F.first("nrm").alias("nrm"),
        )
    )


# ------------------------------------------------- s09 SemDeDup-style pruning
SEMDEDUP_T = 0.30  # same non-vacuity rationale as LOW_T_COSINE: the synthetic
# embeddings are near-orthogonal, so the paper's 0.95+ would prune nothing at
# test SF and the gate would be vacuous


@query(
    "s09_semdedup_prune",
    oracle=f"""
    WITH {_centroid_cte_sql(_EMB)},
    {_cell_cte_sql("cell", _EMB, "{cos_ec}")},
    assign AS (SELECT vec_id, embedding, cid FROM cell WHERE crk = 1),
    cover AS (
      SELECT b.vec_id AS v, MIN(a.vec_id) AS covered_by
      FROM assign a JOIN assign b
        ON a.cid = b.cid AND a.vec_id < b.vec_id
      WHERE {{cos_ab}} >= {SEMDEDUP_T}
      GROUP BY b.vec_id
    )
    SELECT s.vec_id, s.cid,
           CASE WHEN cover.v IS NULL THEN 1 ELSE 0 END AS kept,
           cover.covered_by,
           CASE WHEN cover.v IS NULL THEN NULL
                ELSE ROUND({{cos_su}}, 4) END AS cover_cos
    FROM assign s
    LEFT JOIN cover ON cover.v = s.vec_id
    LEFT JOIN {_EMB} u ON u.vec_id = cover.covered_by
    ORDER BY s.vec_id
    """.format(
        cos_ec=_COS_SQL.format(a="e.embedding", b="c.cv"),
        cos_ab=_COS_SQL.format(a="a.embedding", b="b.embedding"),
        cos_su=_COS_SQL.format(a="s.embedding", b="u.embedding"),
    ),
)
def s09(spark, sf_dir):
    """SemDeDup-style SEMANTIC CORPUS PRUNING (Abbas et al. 2023 shape):
    cluster the embedding space with the family's deterministic coarse
    quantizer, then inside each cluster greedily keep the lowest-id member
    of every near-duplicate group — a vector is pruned iff some lower-id
    cell-mate sits within the cosine threshold, and the output records the
    keep/prune decision per vector plus its covering representative.

    This is the operator that turns s03's near-dup PAIRS into a pruned
    training corpus: downstream consumes ``kept = 1`` rows.

    Scale shape: identical cost envelope to s03/s04 — centroids broadcast
    (bounded), single-cell assignment is a hash aggregate (max_by, no
    window over the corpus), candidate pairs ride the cell-id EQUI-join
    with block size bounded by expected cell population (~{CENTROID_MOD}),
    cover resolution is one |pairs|-bounded MIN aggregate, and the final
    representative lookup is an equi-join back to embeddings.  No
    all-pairs work anywhere; every stage is linear in rows at fixed cell
    geometry."""
    e = _emb(spark, sf_dir).withColumn("nrm", _norm_spark(F.col("embedding")))
    c = e.filter(F.col("vec_id") % CENTROID_MOD == 0).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv"), F.col("nrm").alias("cn")
    )
    # lazy localCheckpoint: assign feeds the pair self-join (both sides)
    # AND the final verdict join — without it the corpus x centroid
    # scoring + assignment aggregate run THREE times (r15 plan audit:
    # three BNLJ-cross + aggregate subtrees in the before-plan)
    assign = _assign_cells(e, c).transform(stable_checkpoint, eager=False)
    a = assign.select(
        F.col("vec_id").alias("u"), "cid",
        F.col("embedding").alias("eu"), F.col("nrm").alias("nu"),
    )
    b = assign.select(
        F.col("vec_id").alias("v"), "cid",
        F.col("embedding").alias("ev"), F.col("nrm").alias("nv"),
    )
    pair_cos = _nan_to_null(F.try_divide(_dot_spark(F.col("eu"), F.col("ev")), F.col("nu") * F.col("nv")))
    # cover_cos rides the SAME aggregate as covered_by (r16, guide §2.4):
    # min_by(pair_cos, u) carries the minimal-u pair's cosine out of the
    # pair join, which is bit-identical to re-deriving cos(v, covered_by)
    # downstream — same _dot_spark over the same two vectors (element
    # products commute; zip_with/aggregate sums in index order either
    # way) — and eliminates the embeddings re-scan + equi-join back to
    # the corpus that the re-derivation needed (one fewer corpus pass at
    # scale, one fewer join + 64-dim dot per row here).
    cover = (
        a.join(b, "cid")
        .filter((F.col("u") < F.col("v")) & (pair_cos >= SEMDEDUP_T))
        .select("u", "v", pair_cos.alias("pc"))
        .groupBy("v")
        .agg(
            F.min("u").alias("covered_by"),
            F.min_by("pc", "u").alias("cover_pc"),
        )
    )
    return (
        assign.join(cover, assign.vec_id == cover.v, "left")
        .select(
            "vec_id",
            "cid",
            F.when(F.col("covered_by").isNull(), 1).otherwise(0).alias("kept"),
            "covered_by",
            F.when(F.col("covered_by").isNull(), F.lit(None).cast("double"))
            .otherwise(F.round(F.col("cover_pc"), 4))
            .alias("cover_cos"),
        )
        .orderBy("vec_id")
    )


# ------------------------------------------------- s10 incremental admission
# The vector-side twin of d10: a continuously-fed corpus admits each
# incoming EMBEDDING batch against the accumulated index, not against
# itself.  vec_id % S10_BATCH_MOD == 0 plays the ~20% incoming batch; the
# rest is the accumulated corpus whose IVF cell assignment is, in
# production, the PERSISTED index (built once, bucketed by cell id — the
# test_bucketing.py layout contract makes the admission join exchange-free
# on the corpus side).  Only the batch pays centroid scoring per round.
S10_BATCH_MOD = 5  # vec_id % 5 == 0 -> the incoming batch (~20%); else corpus


@query(
    "s10_incremental_ann_admission",
    oracle=f"""
    WITH b AS (
      SELECT vec_id, embedding,
             sqrt(list_sum(list_transform(embedding,
               v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))) AS nrm
      FROM {_EMB} WHERE vec_id % {S10_BATCH_MOD} = 0
    ),
    corp AS (
      SELECT vec_id, embedding FROM {_EMB} WHERE vec_id % {S10_BATCH_MOD} <> 0
    ),
    {_centroid_cte_sql("corp")},
    {_cell_cte_sql("corp_cell", "corp", "{cos_ec}")},
    assign AS (SELECT vec_id, embedding, cid FROM corp_cell WHERE crk = 1),
    {_cell_cte_sql("probe_cell", "b", "{cos_bc}")},
    probes AS (
      SELECT vec_id AS query_id, embedding AS qv, cid
      FROM probe_cell WHERE crk <= {N_PROBE}
    ),
    scored AS (
      SELECT p.query_id, a.vec_id,
             ROUND({{cos_qa}}, 4) AS cosine
      FROM probes p JOIN assign a ON a.cid = p.cid
    ),
    nn AS (
      SELECT query_id, vec_id, ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rk
      FROM scored WHERE cosine IS NOT NULL
    ),
    agg AS (
      SELECT query_id,
             SUM(CASE WHEN cosine IS NOT NULL THEN 1 ELSE 0 END) AS n_cands,
             SUM(CASE WHEN cosine >= {NEAR_DUP_COSINE} THEN 1 ELSE 0 END)
               AS n_matches,
             MAX(cosine) AS best_cos,
             SUM(CASE WHEN cosine IS NULL THEN 1 ELSE 0 END) AS n_null_cands
      FROM scored GROUP BY query_id
    )
    SELECT b.vec_id,
           CAST(COALESCE(agg.n_cands, 0) AS BIGINT) AS n_cands,
           CAST(COALESCE(agg.n_matches, 0) AS BIGINT) AS n_matches,
           agg.best_cos AS best_cos,
           nn1.vec_id AS nearest,
           CAST(CASE WHEN COALESCE(agg.n_matches, 0) = 0 THEN 1 ELSE 0 END
                AS BIGINT) AS is_new,
           CAST(CASE WHEN isfinite(b.nrm) AND b.nrm > 0 THEN 1 ELSE 0 END
                AS BIGINT) AS scorable,
           CAST(COALESCE(agg.n_null_cands, 0) AS BIGINT) AS n_null_cands
    FROM b
    LEFT JOIN agg ON agg.query_id = b.vec_id
    LEFT JOIN (SELECT query_id, vec_id FROM nn WHERE rk = 1) nn1
      ON nn1.query_id = b.vec_id
    ORDER BY b.vec_id
    """.format(
        cos_ec=_COS_SQL.format(a="e.embedding", b="c.cv"),
        cos_bc=_COS_SQL.format(a="e.embedding", b="c.cv"),
        cos_qa=_COS_SQL.format(a="p.qv", b="a.embedding"),
    ),
)
def s10(spark, sf_dir):
    """INCREMENTAL ANN ADMISSION — admit an incoming embedding batch
    against the accumulated corpus via the IVF index (s04's geometry),
    emitting one verdict row per batch vector: is_new (no corpus
    near-duplicate at the s03 threshold among probed cells), n_matches,
    best_cos and the nearest corpus vector — so the downstream keep/drop
    filter is a column predicate, exactly like d10's text-side verdict.

    Scale shape — what is NOT paid per batch: the corpus cell assignment
    is the persisted IVF index (recomputed inline here only because the
    gate must be self-contained); the batch side scores the bounded
    broadcast centroid table and probes N_PROBE cells, so the candidate
    join is an asymmetric batch-probes x corpus-cells EQUI-join on cell
    id whose cost scales with |batch| x expected cell population
    (~n/{CENTROID_MOD} x {N_PROBE}), never |batch| x |corpus| and never
    corpus x corpus.  The ONLY broadcast sides are the bounded centroid
    table (twice): the probe relation is |batch| x N_PROBE rows — a
    real fraction of the corpus — so the admission join deliberately
    carries NO broadcast hint (review r14: a copied F.broadcast from
    s04, where the query set is 5 rows, would OOM here at scale); with
    the corpus index bucketed by cid only the batch side shuffles.

    Corrupt-vector routing is side-specific: a corrupt CORPUS vector's
    NULL cosines are excluded from candidacy on both engines, so it can
    neither admit nor block any batch row; a corrupt BATCH vector
    (zero-norm / non-finite — structurally valid, so it passes the _emb
    quarantine) scores NULL against everything and would otherwise be
    silently admitted as "new", accumulating unmatchable junk in a
    continuously-fed corpus — the row-local ``scorable`` facet flags
    exactly those rows (norm finite and > 0) so the downstream keep
    predicate is ``is_new = 1 AND scorable = 1``.  The exclusion is
    also MEASURED, not just implied (r15 facet): ``n_null_cands``
    counts the candidate pairs dropped for a NULL cosine per batch
    vector — nonzero means a corrupt corpus vector sat in a probed
    cell (or the batch vector itself is corrupt, in which case it
    equals the full candidate count) — so index-health monitoring is a
    column aggregate over the verdict relation.  Reference scope
    note: the reference engine has no similarity surface (SURVEY.md §2
    — LLM-pipeline operators are this repo's extension family)."""
    from pyspark.sql import Window

    e = _emb(spark, sf_dir).withColumn("nrm", _norm_spark(F.col("embedding")))
    is_batch = (F.col("vec_id") % S10_BATCH_MOD) == 0
    batch = e.filter(is_batch)
    corpus = e.filter(~is_batch)
    c = corpus.filter(F.col("vec_id") % CENTROID_MOD == 0).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv"), F.col("nrm").alias("cn")
    )
    sim = _nan_to_null(
        F.try_divide(_dot_spark(F.col("embedding"), F.col("cv")), F.col("nrm") * F.col("cn"))
    )
    # corpus side: single-cell assignment (shared helper; s04's max_by
    # tiebreak) — in production this relation is the persisted,
    # cid-bucketed index, not a per-batch computation
    assign = _assign_cells(corpus, c)
    # batch side: N_PROBE nearest cells per incoming vector; the window
    # runs over |batch| x |centroids| rows only
    wc = Window.partitionBy("vec_id").orderBy(F.desc_nulls_last("sim"), F.asc("cid"))
    probes = (
        batch.crossJoin(F.broadcast(c))
        .select("vec_id", "embedding", "nrm", "cid", sim.alias("sim"))
        .withColumn("crk", F.row_number().over(wc))
        .filter(F.col("crk") <= N_PROBE)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qv"),
            F.col("nrm").alias("qn"),
            "cid",
        )
    )
    cos = F.round(
        _nan_to_null(
            F.try_divide(_dot_spark(F.col("qv"), F.col("embedding")), F.col("qn") * F.col("nrm"))
        ),
        4,
    )
    # NO broadcast hint on the admission join: probes is |batch| x
    # N_PROBE rows (~the batch itself, a real fraction of the corpus) —
    # AQE may still choose a broadcast from measured sizes at small SF,
    # but forcing one would OOM at the 100 TB design point, where this
    # is a shuffle equi-join on cid that moves only the batch side
    # against the cid-bucketed corpus index
    scored = assign.join(probes, "cid").select(
        "query_id", "vec_id", cos.alias("cosine")
    )
    # ONE aggregate over ALL candidate rows, NULL cosines included:
    # n_null_cands makes the corrupt-vector exclusion MEASURED (r14
    # verdict facet candidate) instead of implicit — a NULL-cosine
    # candidate is a corrupt corpus vector met in a probed cell (or all
    # candidates at once when the batch vector itself is corrupt).  The
    # max_by ordering sorts NULL cosines below every real one (ok flag
    # leads the struct) and `nearest` is NULLed when no real candidate
    # exists, so the admission facets are unchanged row-for-row.
    per_q = (
        scored.groupBy("query_id")
        .agg(
            F.sum(F.col("cosine").isNotNull().cast("long"))
            .cast("long")
            .alias("n_cands"),
            F.sum(F.when(F.col("cosine") >= NEAR_DUP_COSINE, 1).otherwise(0))
            .cast("long")
            .alias("n_matches"),
            F.max("cosine").alias("best_cos"),
            F.max_by(
                "vec_id",
                F.struct(
                    F.col("cosine").isNotNull().cast("int").alias("ok"),
                    F.coalesce(F.col("cosine"), F.lit(float("-inf"))).alias("c"),
                    (-F.col("vec_id")).alias("nv"),
                ),
            ).alias("nearest_raw"),
            F.sum(F.col("cosine").isNull().cast("long"))
            .cast("long")
            .alias("n_null_cands"),
        )
        .withColumn(
            "nearest", F.when(F.col("n_cands") > 0, F.col("nearest_raw"))
        )
    )
    # scorable is row-local over the batch vector's own norm: finite and
    # nonzero, else every cosine it touches is NULL and "new" is
    # meaningless (see docstring) — finite_spark NULLs non-finite norms
    # and NULL > 0 falls to the otherwise(0) branch
    return (
        batch.select(F.col("vec_id").alias("query_id"), "nrm")
        .join(per_q, "query_id", "left")
        .select(
            F.col("query_id").alias("vec_id"),
            F.coalesce("n_cands", F.lit(0)).cast("long").alias("n_cands"),
            F.coalesce("n_matches", F.lit(0)).cast("long").alias("n_matches"),
            "best_cos",
            "nearest",
            F.when(F.coalesce(F.col("n_matches"), F.lit(0)) == 0, 1)
            .otherwise(0)
            .cast("long")
            .alias("is_new"),
            F.when(finite_spark(F.col("nrm")) > 0, 1)
            .otherwise(0)
            .cast("long")
            .alias("scorable"),
            F.coalesce("n_null_cands", F.lit(0))
            .cast("long")
            .alias("n_null_cands"),
        )
        .orderBy("vec_id")
    )


# ------------------------------------------------- s11 product quantization
# PQ + ADC — the third leg of the FAISS-style index family: s04 is the
# COARSE quantizer (IVF cell routing), s07 is SCALAR compression (int8),
# s11 is the FINE quantizer: each vector is split into PQ_M subspaces and
# each sub-vector replaced by the id of its nearest codeword, so a DIM
# float32 vector (256 B) becomes PQ_M uint8 codes (4 B, 64x).  Queries
# never decompress: ADC (asymmetric distance computation, Jegou et al.
# 2011) precomputes per-query lookup tables of query-subvector ->
# codeword distances, and a database vector's approximate distance is
# PQ_M table lookups + adds.
PQ_M = 4  # subspaces
PQ_SUBDIM = DIM // PQ_M
PQ_K = 16  # max codewords per subspace codebook
PQ_CODE_MOD = 37  # vec_id % 37 == 0 and vec_id < 37*16 -> codeword seed

# squared L2 over a subspace slice, left-to-right summation (the oracle's
# list_sum order), with the family's non-finite -> NULL routing.  A NaN
# component makes the sum NaN; an overflowing square makes it +Inf; a
# squared distance can never be -Inf, so two nullifs suffice.
_L2_SQL = (
    "nullif(nullif("
    "list_sum(list_transform(list_zip({a}, {b}),"
    " x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))"
    " * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))))"
    ", CAST('nan' AS DOUBLE)), CAST('inf' AS DOUBLE))"
)

# the PQ_M subspace slices, 1-based inclusive bounds shared by both
# engines: DuckDB list slice [a:b] / Spark slice(col, a, PQ_SUBDIM)
_PQ_SLICES = [(m * PQ_SUBDIM + 1, (m + 1) * PQ_SUBDIM) for m in range(PQ_M)]


def _sub_sql(expr: str, m: int) -> str:
    a, b = _PQ_SLICES[m]
    return f"{expr}[{a}:{b}]"


def _sub_spark(col, m: int):
    return F.slice(col, _PQ_SLICES[m][0], PQ_SUBDIM)


def _ssq_spark(a, b):
    """Squared L2 distance, left-to-right summation — the Spark twin of
    _L2_SQL (same order, so doubles are bit-equal)."""
    diff2 = F.zip_with(
        a, b, lambda x, y: (x.cast("double") - y.cast("double")) * (x.cast("double") - y.cast("double"))
    )
    return finite_spark(F.aggregate(diff2, F.lit(0.0), lambda acc, v: acc + v))


@query(
    "s11_pq_adc_topk",
    oracle=f"""
    WITH cb AS (
      SELECT CAST(vec_id // {PQ_CODE_MOD} + 1 AS INTEGER) AS code,
             {_sub_sql('embedding', 0)} AS cw0, {_sub_sql('embedding', 1)} AS cw1,
             {_sub_sql('embedding', 2)} AS cw2, {_sub_sql('embedding', 3)} AS cw3
      FROM {_EMB}
      WHERE vec_id % {PQ_CODE_MOD} = 0 AND vec_id < {PQ_CODE_MOD * PQ_K}
    ),
    scored AS (
      SELECT e.vec_id, cb.code,
             {_L2_SQL.format(a=_sub_sql('e.embedding', 0), b='cb.cw0')} AS d0,
             {_L2_SQL.format(a=_sub_sql('e.embedding', 1), b='cb.cw1')} AS d1,
             {_L2_SQL.format(a=_sub_sql('e.embedding', 2), b='cb.cw2')} AS d2,
             {_L2_SQL.format(a=_sub_sql('e.embedding', 3), b='cb.cw3')} AS d3
      FROM {_EMB} e CROSS JOIN cb
    ),
    ranked AS (
      SELECT vec_id, code,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d0 ASC NULLS LAST, code) AS r0,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d1 ASC NULLS LAST, code) AS r1,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2 ASC NULLS LAST, code) AS r2,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d3 ASC NULLS LAST, code) AS r3
      FROM scored
    ),
    codes AS (
      SELECT vec_id,
             MAX(CASE WHEN r0 = 1 THEN code END) AS c0,
             MAX(CASE WHEN r1 = 1 THEN code END) AS c1,
             MAX(CASE WHEN r2 = 1 THEN code END) AS c2,
             MAX(CASE WHEN r3 = 1 THEN code END) AS c3
      FROM ranked GROUP BY vec_id
    ),
    dt AS (
      SELECT vec_id AS query_id, code, d0, d1, d2, d3
      FROM scored WHERE vec_id < {N_QUERY_VECS}
    ),
    adc AS (
      SELECT t0.query_id, c.vec_id, c.c0, c.c1, c.c2, c.c3,
             ROUND(((t0.d0 + t1.d1) + t2.d2) + t3.d3, 4) AS adc_dist
      FROM codes c
      JOIN dt t0 ON t0.code = c.c0
      JOIN dt t1 ON t1.query_id = t0.query_id AND t1.code = c.c1
      JOIN dt t2 ON t2.query_id = t0.query_id AND t2.code = c.c2
      JOIN dt t3 ON t3.query_id = t0.query_id AND t3.code = c.c3
      WHERE c.vec_id != t0.query_id
    ),
    final AS (
      SELECT query_id, vec_id, c0, c1, c2, c3, adc_dist,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY adc_dist ASC NULLS LAST, vec_id) AS rk
      FROM adc
    )
    SELECT query_id, vec_id, c0, c1, c2, c3, adc_dist, rk
    FROM final WHERE rk <= {TOP_K}
    ORDER BY query_id, rk
    """,
)
def s11(spark, sf_dir):
    """PRODUCT QUANTIZATION + ADC top-k (Jegou, Douze, Schmid 2011) — the
    fine-quantizer leg of the index family (s04 coarse/IVF, s07 scalar).
    Each vector splits into {PQ_M} x {PQ_SUBDIM}-dim subspaces; each
    sub-vector is encoded as its nearest codeword id from a bounded
    deterministic codebook (every {PQ_CODE_MOD}th vec_id below
    {PQ_CODE_MOD}x{PQ_K} — at scale these are per-subspace k-means
    codebooks, trained offline, <= {PQ_K} codewords by construction).
    Queries rank candidates WITHOUT decompression: per query, one
    distance table per subspace (query sub-vector -> every codeword,
    squared L2), then a candidate's approximate distance is {PQ_M} map
    lookups + adds over its codes.

    Scale shape: the codebook broadcasts (<= {PQ_K} rows by
    construction); encoding is one crossJoin x <= {PQ_K} fan-out and ONE
    hash aggregate whose shuffle rows carry only (code, 4 doubles) — the
    embedding itself never rides the encode exchange, and in production
    the codes are computed once at ingest and PERSISTED (4 B/vector, the
    64x compression that lets a 100 TB float32 store serve from ~1.6 TB).
    The query distance tables are {N_QUERY_VECS} x {PQ_K} x {PQ_M}
    doubles — broadcast as per-subspace maps — so the ADC pass is a
    row-local lookup-and-add over the codes relation: zero shuffle per
    candidate, one per-query top-k window at the end.  The argmin per
    subspace is the family's max_by(code, struct(-d, -code)) idiom —
    NULLS lose the max exactly like the oracle's ASC NULLS LAST, and a
    fully-corrupt sub-vector (all-NULL distances) deterministically takes
    the lowest code on both engines.  Non-finite distances route NULL
    (``finite_spark``/_L2_SQL nullifs): one corrupt subspace poisons the
    whole ADC sum to NULL, ranking the row last, never first.  Output
    pins the ENCODING (c0..c3) next to the ADC distance and rank, so a
    mis-assigned codeword fails the gate even when the ranking happens
    to survive.  Reference scope note: the reference engine has no
    similarity surface (SURVEY.md §2 — the LLM-pipeline operators are
    this repo's extension family)."""
    from pyspark.sql import Window

    e = _emb(spark, sf_dir)
    code = F.expr(f"CAST(vec_id div {PQ_CODE_MOD} + 1 AS INT)")
    cb = (
        e.filter(
            (F.col("vec_id") % PQ_CODE_MOD == 0) & (F.col("vec_id") < PQ_CODE_MOD * PQ_K)
        )
        .select(
            code.alias("code"),
            *[_sub_spark(F.col("embedding"), m).alias(f"cw{m}") for m in range(PQ_M)],
        )
    )
    scored = e.crossJoin(F.broadcast(cb)).select(
        "vec_id",
        "code",
        *[
            _ssq_spark(_sub_spark(F.col("embedding"), m), F.col(f"cw{m}")).alias(f"d{m}")
            for m in range(PQ_M)
        ],
    )
    # per-subspace argmin as ONE hash aggregate (no per-subspace window):
    # max_by over struct(-d, -code) == (d ASC NULLS LAST, code ASC)
    codes = scored.groupBy("vec_id").agg(
        *[
            F.max_by("code", F.struct(-F.col(f"d{m}"), -F.col("code"))).alias(f"c{m}")
            for m in range(PQ_M)
        ]
    )
    # per-query ADC tables: one map<code, d> per subspace, built from the
    # same scored relation (the query's own codeword distances)
    qdt = (
        scored.filter(F.col("vec_id") < N_QUERY_VECS)
        .groupBy(F.col("vec_id").alias("query_id"))
        .agg(
            *[
                F.map_from_entries(F.collect_list(F.struct("code", f"d{m}"))).alias(f"dt{m}")
                for m in range(PQ_M)
            ]
        )
    )
    # left-to-right adds, same order as the oracle's ((d0+d1)+d2)+d3
    adc = F.round(
        F.try_element_at("dt0", F.col("c0"))
        + F.try_element_at("dt1", F.col("c1"))
        + F.try_element_at("dt2", F.col("c2"))
        + F.try_element_at("dt3", F.col("c3")),
        4,
    )
    cand = (
        codes.crossJoin(F.broadcast(qdt))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", "c0", "c1", "c2", "c3", adc.alias("adc_dist"))
    )
    w = Window.partitionBy("query_id").orderBy(F.asc_nulls_last("adc_dist"), F.asc("vec_id"))
    return (
        cand.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOP_K)
        .select("query_id", "vec_id", "c0", "c1", "c2", "c3", "adc_dist", "rk")
        .orderBy("query_id", "rk")
    )
