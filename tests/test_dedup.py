"""d04's over-cap block fallback must be NON-vacuous (VERDICT r6 item 4).

Round 6 found that docs in (lang, len_bucket) blocks over the cap were
silently excluded from pair generation — "routes to MinHash at production
scale" was documented but not wired.  Now over-cap blocks go through d02's
band-bucket LSH candidate path (same-block-restricted) and rejoin the shared
exact verify stage.  These tests pin that BOTH routes produce pairs on the
test corpus and the union matches the DuckDB oracle exactly.
"""

import duckdb

from pyspark.sql import functions as F

from jena_fuseki_kafka_spark.queries import ORACLES, QUERIES
from jena_fuseki_kafka_spark.queries.dedup import D04_MAX_BLOCK_DOCS


def _duck(sf_dir):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    return con


def _over_cap_doc_ids(sf_dir):
    con = _duck(sf_dir)
    rows = con.execute(
        f"""
        WITH m AS (SELECT doc_id, lang, n_chars // 200 AS lb FROM documents),
        c AS (SELECT lang, lb, COUNT(*) AS n FROM m GROUP BY 1, 2)
        SELECT doc_id FROM m JOIN c USING (lang, lb) WHERE c.n > {D04_MAX_BLOCK_DOCS}
        """
    ).fetchall()
    return {r[0] for r in rows}


def test_d04_matches_oracle_and_both_routes_non_vacuous(spark, sf_dir):
    rows = QUERIES["d04_ngram_jaccard_blocked"](spark, sf_dir).collect()
    oracle = _duck(sf_dir).execute(ORACLES["d04_ngram_jaccard_blocked"]).fetchall()
    assert sorted(tuple(r) for r in rows) == sorted(tuple(r) for r in oracle)

    over = _over_cap_doc_ids(sf_dir)
    assert over, "test corpus must contain at least one over-cap block"
    over_pairs = [r for r in rows if r[0] in over or r[1] in over]
    small_pairs = [r for r in rows if r[0] not in over and r[1] not in over]
    assert over_pairs, (
        "over-cap blocks produced no pairs — the LSH fallback route is "
        "vacuous on this corpus and proves nothing"
    )
    assert small_pairs, "small-block exhaustive route produced no pairs"


def test_d04_over_cap_pairs_stay_within_one_block(spark, sf_dir):
    # the fallback must never pair docs across blocking keys: LSH
    # candidates are keyed on (lang, len_bucket, band) — a cross-block
    # pair would mean the blocking restriction was lost in the join
    rows = QUERIES["d04_ngram_jaccard_blocked"](spark, sf_dir).collect()
    con = _duck(sf_dir)
    meta = dict(
        con.execute(
            "SELECT doc_id, lang || '/' || (n_chars // 200) FROM documents"
        ).fetchall()
    )
    for doc_a, doc_b, _ in rows:
        assert meta[doc_a] == meta[doc_b], (doc_a, doc_b)


def test_d04_stays_oracle_gated():
    assert "d04_ngram_jaccard_blocked" in QUERIES
    assert "d04_ngram_jaccard_blocked" in ORACLES


class TestD08SubstringSpans:
    def test_spans_non_vacuous_and_well_formed(self, spark, sf_dir):
        from jena_fuseki_kafka_spark.queries.dedup import D08_NGRAM

        rows = QUERIES["d08_substring_span_dedup"](spark, sf_dir).collect()
        assert rows, "corpus must contain cross-doc duplicated spans"
        by_doc = {}
        for r in rows:
            assert r.span_tokens == r.span_end - r.span_start + 1
            assert r.span_tokens >= D08_NGRAM  # a span is at least one n-gram
            by_doc.setdefault(r.doc_id, []).append((r.span_start, r.span_end))
        # spans within one doc are maximal: sorted, non-overlapping, with
        # a gap > 1 between consecutive spans (else they'd have merged)
        for doc, spans in by_doc.items():
            spans.sort()
            for (s1, e1), (s2, e2) in zip(spans, spans[1:]):
                assert s2 > e1 + 1, (doc, spans)

    def test_d08_oracle_registered(self):
        assert "d08_substring_span_dedup" in ORACLES

    def test_merge_spans_boundary_semantics_both_engines(self, spark):
        """Direct pin of the shared gaps-and-islands helper
        (_merge_spans / _spans_cte_sql, factored r11 from the three
        d08/d09/d11 inline copies) on hand-computed boundary shapes —
        the adjacency rule (pos > prev_max_end + 1 opens an island) is
        one off-by-one away from splitting touching windows or merging
        gapped ones:

        - overlapping windows (pos 1, 3)     -> one span [1, 3+n-1]
        - exactly adjacent (pos 1, 1+n)      -> one span (end+1 == next)
        - gap of one token (pos 1, 2+n)      -> two spans
        - singleton                          -> its own n-wide span
        """
        from jena_fuseki_kafka_spark.queries.dedup import (
            _merge_spans,
            _spans_cte_sql,
        )

        n = 8
        pos = [
            (1, 1), (1, 3),          # overlap -> [1, 10]
            (2, 1), (2, 1 + n),      # adjacent -> [1, 16]
            (3, 1), (3, 2 + n),      # gap -> [1, 8], [10, 17]
            (4, 5),                  # singleton -> [5, 12]
        ]
        expect = {
            (1, 1, 10), (2, 1, 16), (3, 1, 8), (3, 10, 17), (4, 5, 12),
        }
        df = spark.createDataFrame(pos, "doc_id int, pos int")
        got_spark = {
            (r.doc_id, r.s, r.e)
            for r in _merge_spans(df, n).select("doc_id", "s", "e").collect()
        }
        assert got_spark == expect
        con = duckdb.connect()
        con.execute("CREATE TABLE src (doc_id INT, pos INT)")
        con.executemany("INSERT INTO src VALUES (?, ?)", pos)
        got_duck = {
            tuple(r)
            for r in con.execute(
                f"WITH {_spans_cte_sql('src', n)} "
                "SELECT doc_id, s, e FROM spans"
            ).fetchall()
        }
        assert got_duck == expect

class TestD11FuzzyDecontamination:
    def _write_docs(self, spark, tmp_path, rows):
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        df.coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))
        return str(tmp_path)

    def test_drifted_copy_flagged_where_exact_d05_is_blind(self, spark, tmp_path):
        # doc_id 20 is in the 1-in-20 md5 benchmark sample; 1 and 2 are not.
        # The train doc quotes the benchmark text with PUNCTUATION drift
        # (d05 already lowercases and collapses whitespace, so punctuation
        # is exactly the drift class it cannot see).
        bench_text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
        drifted = "Alpha, beta; GAMMA delta (epsilon) zeta -- eta theta iota: kappa!"
        clean = "one two three four five six seven eight nine ten"
        sf = self._write_docs(
            spark, tmp_path,
            [(20, bench_text), (1, drifted), (2, clean)],
        )
        d11 = {r.doc_id: r for r in QUERIES["d11_fuzzy_decontamination"](spark, sf).collect()}
        d05 = QUERIES["d05_decontamination"](spark, sf).collect()
        assert list(d11) == [1], d11
        row = d11[1]
        # the full 10-token quote is one maximal span: positions 1..3 of
        # the 8-grams cover tokens 1..10
        assert row.n_spans == 1
        assert row.n_tokens == 10
        assert row.contam_tokens == 10
        assert row.contam_frac == 1.0
        assert row.n_benchmark_docs == 1
        assert d05 == [], f"punctuation drift should be invisible to exact d05: {d05}"

    def test_separated_hits_stay_separate_spans(self, spark, tmp_path):
        # two drifted quotes of benchmark 8-grams separated by >1 clean
        # token must NOT merge into one span
        bq1 = "a1 a2 a3 a4 a5 a6 a7 a8"
        bq2 = "b1 b2 b3 b4 b5 b6 b7 b8"
        train = f"{bq1.upper()} filler1 filler2 filler3 {bq2.replace(' ', ', ')}"
        sf = self._write_docs(
            spark, tmp_path,
            [(20, f"{bq1} {bq2}"), (1, train)],
        )
        rows = QUERIES["d11_fuzzy_decontamination"](spark, sf).collect()
        assert len(rows) == 1 and rows[0].doc_id == 1
        assert rows[0].n_spans == 2, rows
        assert rows[0].contam_tokens == 16
        assert rows[0].n_tokens == 19

    def test_matches_duckdb_oracle_on_testdata(self, spark, sf_dir):
        rows = QUERIES["d11_fuzzy_decontamination"](spark, sf_dir).collect()
        con = _duck(sf_dir)
        oracle = con.execute(ORACLES["d11_fuzzy_decontamination"]).fetchall()
        assert sorted(tuple(r) for r in rows) == sorted(tuple(r) for r in oracle)
        for r in rows:
            assert 0 < r.contam_tokens <= r.n_tokens
            assert r.n_spans >= 1 and r.n_benchmark_docs >= 1

    # adversarial unicode: one case per known cross-engine hazard class —
    # multi-codepoint lowercase mappings (U+0130 İ is the live divergence:
    # Java lowers to i+combining-dot, utf8proc to bare i), decomposed
    # diacritics, ligatures/digraphs whose lowercase has no [a-z] image,
    # exotic whitespace, and tokens that normalize to empty
    _NORM_PARITY_CORPUS = [
        "Hello, World!",
        "İstanbul i̇stanbul",  # İ + pre-decomposed i+U+0307
        "café vs café",  # decomposed vs precomposed é
        "STRASSE ß",
        "ĲSSELMEER ǅungla ﬁligature",
        "tab\tnl\nnbsp thin ",
        "emoji \U0001f642 mid",
        "V̶I̶E̶T̶ struck-through",
        "",
        " !!! ",
        "mixed123abc 456",
    ]

    def test_ws_tokenizer_parity_spark_duckdb_python(self, spark):
        """The shared explicit-class whitespace tokenizer (queries.
        ws_words_spark / ws_words_sql — shingles, t07, p05/p07, d05's
        base) must agree across Spark, DuckDB and a Python reference.
        This is the tokenizer that replaced trim() + \\s+, whose
        semantics differ per engine on exotic whitespace (DuckDB's trim
        strips U+2009/NBSP; Spark's strips only ' ')."""
        from jena_fuseki_kafka_spark.queries import ws_words_spark, ws_words_sql

        cases = self._NORM_PARITY_CORPUS + ["\u2009leading thin", "\xa0 nbsp space mix \u2009"]
        df = spark.createDataFrame(
            [(i, c) for i, c in enumerate(cases)], "doc_id int, text string"
        )
        got_spark = [
            r.w
            for r in df.select("doc_id", ws_words_spark(F.col("text")).alias("w"))
            .orderBy("doc_id")
            .collect()
        ]
        con = duckdb.connect()
        got_duck = [
            con.execute(f"SELECT {ws_words_sql('?')}", [c]).fetchone()[0]
            for c in cases
        ]
        import re as _re

        sep = "[ \t\n\r\f\x0b]"
        got_py = [
            _re.split(f"{sep}+", _re.sub(f"^{sep}+|{sep}+$", "", c)) for c in cases
        ]
        for c, a, b, pr in zip(cases, got_spark, got_duck, got_py):
            assert a == b == pr, f"{c!r}: spark={a} duck={b} py={pr}"

    def test_d05_tokenizer_parity_spark_duckdb_python(self, spark):
        """Same three-engine differential for d05's tokenizer (lower ->
        strip \\p{Mn} -> split on whitespace runs) — the exact-match
        sibling of d11's normalization, fixed with the same recipe in
        r10 after the unicode probe unmasked its vacuous pass."""
        import unicodedata

        from jena_fuseki_kafka_spark.queries.dedup import (
            _D05_WORDS_SQL,
            _d05_words_spark,
        )

        cases = self._NORM_PARITY_CORPUS
        df = spark.createDataFrame(
            [(i, c) for i, c in enumerate(cases)], "doc_id int, text string"
        )
        got_spark = [
            r.w
            for r in df.select("doc_id", _d05_words_spark().alias("w"))
            .orderBy("doc_id")
            .collect()
        ]
        con = duckdb.connect()
        got_duck = [
            con.execute(
                f"SELECT {_D05_WORDS_SQL.replace('text', '?')}", [c]
            ).fetchone()[0]
            for c in cases
        ]
        import re as _re

        def py_ref(s):
            lowered = "".join(
                ch for ch in s.lower() if unicodedata.category(ch) != "Mn"
            )
            # the explicit ASCII separator class — Python's \s would
            # also match NBSP/thin-space, which the operator treats as
            # token content
            sep = "[ \t\n\r\f\x0b]"
            return _re.split(f"{sep}+", _re.sub(f"^{sep}+|{sep}+$", "", lowered))

        got_py = [py_ref(c) for c in cases]
        for c, a, b, pr in zip(cases, got_spark, got_duck, got_py):
            assert a == b == pr, f"{c!r}: spark={a} duck={b} py={pr}"

    def test_normalization_parity_spark_duckdb_python(self, spark):
        """Three-engine differential: the d11 tokenizer must agree
        byte-for-byte between Spark (Java regex), DuckDB (RE2/utf8proc —
        the oracle side) and a plain-Python reference, on a corpus chosen
        to hit every known divergence class.  Guards the oracle gate
        against engine-dependent unicode drift that ASCII testdata can
        never catch."""
        import unicodedata

        from jena_fuseki_kafka_spark.queries.dedup import (
            _D11_NORM_SQL,
            _d11_norm_words_spark,
        )

        cases = self._NORM_PARITY_CORPUS
        df = spark.createDataFrame(
            [(i, c) for i, c in enumerate(cases)], "doc_id int, text string"
        )
        got_spark = [
            r.w
            for r in df.select("doc_id", _d11_norm_words_spark().alias("w"))
            .orderBy("doc_id")
            .collect()
        ]
        con = duckdb.connect()
        got_duck = [
            con.execute(
                f"SELECT {_D11_NORM_SQL.replace('text', '?')}", [c]
            ).fetchone()[0]
            for c in cases
        ]
        import re as _re

        def py_ref(s):
            lowered = "".join(
                ch for ch in s.lower() if unicodedata.category(ch) != "Mn"
            )
            return _re.sub(r"[^a-z0-9]+", " ", lowered).strip().split(" ")

        got_py = [py_ref(c) for c in cases]
        for c, a, b, p in zip(cases, got_spark, got_duck, got_py):
            assert a == b == p, f"{c!r}: spark={a} duck={b} py={p}"

    def test_lower_markstrip_parity_spark_duckdb_python(self, spark):
        """Three-engine differential for the shared case-fold helper
        (queries.lower_markstrip_spark/_sql — the r11 factoring of the
        recipe t03/t05/t06/t11/d11 inlined): lower, then strip \\p{Mn}.
        Python's str.lower matches Java's multi-codepoint mapping
        (İ -> i + U+0307), so it referees the Java-vs-utf8proc split."""
        import unicodedata

        from jena_fuseki_kafka_spark.queries import (
            lower_markstrip_spark,
            lower_markstrip_sql,
        )

        cases = self._NORM_PARITY_CORPUS
        df = spark.createDataFrame(
            [(i, c) for i, c in enumerate(cases)], "doc_id int, text string"
        )
        got_spark = [
            r.t
            for r in df.select(
                "doc_id", lower_markstrip_spark(F.col("text")).alias("t")
            )
            .orderBy("doc_id")
            .collect()
        ]
        con = duckdb.connect()
        got_duck = [
            con.execute(f"SELECT {lower_markstrip_sql('?')}", [c]).fetchone()[0]
            for c in cases
        ]
        got_py = [
            "".join(ch for ch in c.lower() if unicodedata.category(ch) != "Mn")
            for c in cases
        ]
        for c, a, b, p in zip(cases, got_spark, got_duck, got_py):
            assert a == b == p, f"{c!r}: spark={a!r} duck={b!r} py={p!r}"

    def test_finite_guard_parity_spark_duckdb_python(self, spark):
        """Three-engine differential for the non-finite metric guard
        (queries.finite_spark/finite_sql, r11): NaN/±Inf -> NULL, finite
        and NULL pass through.  Load-bearing because the engines disagree
        WITHOUT it — Spark's non-finite -> decimal cast silently NULLs
        where DuckDB's ERRORS, and both treat NaN > t as TRUE — and
        because the decimal cast of the guarded value must stay
        abort-free on both."""
        import math

        from jena_fuseki_kafka_spark.queries import finite_spark, finite_sql

        cases = [1.5, 0.0, -2.25, float("nan"), float("inf"), float("-inf"), None]
        df = spark.createDataFrame(
            [(i, v) for i, v in enumerate(cases)], "i int, v double"
        )
        got_spark = [
            r.g
            for r in df.select(
                "i", finite_spark(F.col("v")).cast("decimal(28,6)").alias("g")
            )
            .orderBy("i")
            .collect()
        ]
        con = duckdb.connect()
        # finite_sql expands its expression twice (CASE WHEN isfinite(e)
        # THEN e END), hence two placeholders per case
        got_duck = [
            con.execute(
                f"SELECT CAST({finite_sql('?::DOUBLE')} AS DECIMAL(28,6))", [v, v]
            ).fetchone()[0]
            for v in cases
        ]
        got_py = [
            v if v is not None and math.isfinite(v) else None for v in cases
        ]
        for v, a, b, p in zip(cases, got_spark, got_duck, got_py):
            fa = float(a) if a is not None else None
            fb = float(b) if b is not None else None
            assert fa == fb == p, f"{v!r}: spark={a!r} duck={b!r} py={p!r}"

    def test_canon_text_parity_spark_duckdb_python(self, spark):
        """Three-engine differential for the canonical fingerprint form
        (queries.canon_text_spark/_sql — t04's md5 input and p02's dedup
        key, r11): lower_markstrip + explicit-ASCII edge strip +
        whitespace-run collapse.  A one-byte canonical-form divergence
        is a 100% fingerprint mismatch, so this is the highest-leverage
        parity surface in the text family."""
        import unicodedata

        from jena_fuseki_kafka_spark.queries import (
            canon_text_spark,
            canon_text_sql,
        )

        cases = self._NORM_PARITY_CORPUS + [
            " thin İ edges ",
            "\xa0nbsp İçeri\xa0",
        ]
        df = spark.createDataFrame(
            [(i, c) for i, c in enumerate(cases)], "doc_id int, text string"
        )
        got_spark = [
            r.t
            for r in df.select("doc_id", canon_text_spark(F.col("text")).alias("t"))
            .orderBy("doc_id")
            .collect()
        ]
        con = duckdb.connect()
        got_duck = [
            con.execute(f"SELECT {canon_text_sql('?')}", [c]).fetchone()[0]
            for c in cases
        ]
        import re as _re

        def py_ref(s):
            lowered = "".join(
                ch for ch in s.lower() if unicodedata.category(ch) != "Mn"
            )
            sep = "[ \t\n\r\f\x0b]"
            return _re.sub(f"{sep}+", " ", _re.sub(f"^{sep}+|{sep}+$", "", lowered))

        got_py = [py_ref(c) for c in cases]
        for c, a, b, p in zip(cases, got_spark, got_duck, got_py):
            assert a == b == p, f"{c!r}: spark={a!r} duck={b!r} py={p!r}"


class TestShortDocRobustness:
    """Docs shorter than an operator's n-gram/shingle width must produce
    zero grams — NOT crash.  sequence(1, 0) DESCENDS in Spark, so the
    former greatest(..., 0) bounds fed slice() a 0 start (d05/t07) or
    indexed past the array (shingles) — an error under ANSI mode — while
    the DuckDB oracles' generate_series(1, 0) quietly yields no rows.
    The corpus here mixes 1-, 2- and 7-token docs (below every width in
    play) with long docs both inside and outside d05's 1-in-20 benchmark
    sample (doc 20 is in-sample)."""

    _RUN = "alpha beta gamma delta epsilon zeta eta theta iota kappa"

    def _sf(self, spark, tmp_path):
        rows = [
            (1, "solo"),
            (2, "two words"),
            (3, "seven little words are not quite enough"),
            (20, self._RUN),
            (4, f"train doc quoting {self._RUN} verbatim in full"),
            (5, "a completely unrelated long document with many distinct words here"),
        ]
        spark.createDataFrame(rows, ["doc_id", "text"]).coalesce(1).write.parquet(
            str(tmp_path / "documents.parquet")
        )
        return str(tmp_path)

    def _oracle(self, sf, name):
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM read_parquet("
            f"'{sf}/documents.parquet/*.parquet')"
        )
        return con.execute(ORACLES[name]).fetchall()

    def test_short_docs_match_oracle_not_crash(self, spark, tmp_path):
        sf = self._sf(spark, tmp_path)
        for name in (
            "d05_decontamination",
            "t07_repetition_ratio",
            "d02_minhash_lsh",
        ):
            got = sorted(tuple(r) for r in QUERIES[name](spark, sf).collect())
            want = sorted(tuple(r) for r in self._oracle(sf, name))
            assert got == want, f"{name}: {got} != {want}"
        # d05 must still flag the long-doc contamination on this corpus
        d05 = QUERIES["d05_decontamination"](spark, sf).collect()
        assert [r.doc_id for r in d05] == [4], d05


class TestDsumFiniteGuard:
    """r12: the finite-guarded exact-sum helper (relational._dsumf) must
    agree with the DuckDB oracle form on a column containing NaN/±Inf —
    non-finite rows fall out of the sum as NULL on BOTH engines instead
    of silently NULLing on one and aborting the other (the pre-r12
    asymmetry the lineitem-edge probe corpus pins for the remaining
    unguarded _dsum callers)."""

    def test_dsumf_parity_with_oracle_form(self, spark):
        from jena_fuseki_kafka_spark.queries.relational import _dsumf

        vals = [1.5, 2.25, float("nan"), float("inf"), float("-inf"), -0.75, None]
        df = spark.createDataFrame([(v,) for v in vals], "v double")
        got_spark = df.agg(_dsumf(F.col("v"), "s")).collect()[0]["s"]

        con = duckdb.connect()
        con.execute("CREATE TABLE t (v DOUBLE)")
        con.executemany("INSERT INTO t VALUES (?)", [(v,) for v in vals])
        got_duck = con.execute(
            "SELECT CAST(SUM(CAST(CASE WHEN isfinite(v) THEN v END"
            " AS DECIMAL(28,6))) AS DOUBLE) FROM t"
        ).fetchone()[0]

        assert got_spark == got_duck == 3.0

    def test_quantizer_nonfinite_scale_is_zero_vector(self, spark):
        """s07's quantizer routes a non-finite scale (any NaN/Inf
        component) to the zero vector, like zero-norm — the int cast
        aborted on BOTH engines before r12."""
        from jena_fuseki_kafka_spark.queries.similarity import DIM, s07

        # vectors must be DIM-wide: the r13 structural quarantine
        # (similarity._emb) drops wrong-width rows at the scan, and this
        # test is about the QUANTIZER's non-finite handling, which only
        # structurally-valid rows reach
        def vec(head):
            return head + [0.0] * (DIM - len(head))

        rows = [
            (1, vec([3.0, -6.0, 0.0, 1.5])),          # clean: max_abs 6 -> 127
            (2, vec([float("nan"), 1.0, 1.0, 1.0])),  # NaN component
            (3, vec([float("inf"), 1.0, 1.0, 1.0])),  # Inf component
            (4, vec([])),                              # zero norm
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        import os
        import tempfile

        with tempfile.TemporaryDirectory() as tmp:
            df.write.parquet(os.path.join(tmp, "embeddings.parquet"))
            out = {r["vec_id"]: r for r in s07(spark, tmp).collect()}
        assert out[1]["max_abs_q"] == 127
        for vid in (2, 3, 4):
            assert out[vid]["sum_q"] == 0 and out[vid]["l1_q"] == 0, vid
