"""Query surface for the correctness/bench harness.

Every query is registered with a name, a (spark, sf_dir) -> DataFrame
callable, and (when SQL-expressible) a DuckDB oracle SQL string producing
identical column names and values.  SURVEY.md §2B maps each relational
query to the SPARQL-algebra operator it exercises; the dedup/similarity/
text modules cover the training-data-pipeline operations.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Read a testdata table; normalize nanosecond-precision parquet
    timestamps (which Spark refuses by default) to TimestampType by
    reading them as long and truncating to micros — matching DuckDB's
    nanos->micros truncation so oracles agree."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{table}.parquet")
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    for field in df.schema.fields:
        if field.name == "ts" and isinstance(field.dataType, T.LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


# Explicit ASCII whitespace separator class for tokenizers.  The `\s`
# shorthand and `trim()` are engine-dependent on exotic whitespace
# (DuckDB's trim strips U+2009/NBSP where Spark's strips only ' ';
# Python's \s matches NBSP where Java's and RE2's don't), so every
# whitespace tokenizer that feeds an oracle gate spells the separator
# set out and strips edges with the SAME class — non-ASCII whitespace
# is token content.  tests/test_dedup.py pins three-engine parity.
ASCII_WS = " \\t\\n\\r\\f\\x0b"


def ws_words_spark(col):
    """Edge-strip + split a string column on the explicit ASCII class."""
    from pyspark.sql import functions as F

    sep = f"[{ASCII_WS}]"
    return F.split(F.regexp_replace(col, f"^{sep}+|{sep}+$", ""), f"{sep}+")


def ws_words_sql(expr: str) -> str:
    """DuckDB twin of ws_words_spark over an arbitrary SQL expression."""
    return (
        f"regexp_split_to_array(regexp_replace({expr},"
        f" '^[{ASCII_WS}]+|[{ASCII_WS}]+$', '', 'g'), '[{ASCII_WS}]+')"
    )


def finite_spark(col):
    """NULL out non-finite doubles (NaN/±Inf — upstream float math emits
    them into any real metric column).  Load-bearing for every
    metric -> DECIMAL cast: Spark's non-finite -> decimal cast SILENTLY
    yields NULL where DuckDB's ERRORS ("can't be cast / out of range"),
    so an unguarded sum is a silent-drop on one engine and a job abort
    on the other; and both engines order NaN ABOVE every real and treat
    ``NaN > t`` as TRUE, so an unguarded threshold admits corrupt rows.
    The SQL twin is finite_sql (DuckDB isfinite); NULL falls out of
    sums, predicates and NULLS-LAST ranks identically on both."""
    from pyspark.sql import functions as F

    c = F.nanvl(col, F.lit(None).cast("double"))
    return F.when(F.abs(c) != F.lit(float("inf")), c)


def finite_sql(expr: str) -> str:
    """DuckDB twin of finite_spark."""
    return f"CASE WHEN isfinite({expr}) THEN {expr} END"


def valid_vector_spark(col, dim: int):
    """TRUE iff an array<float> column is STRUCTURALLY valid: non-NULL,
    exactly ``dim`` components, no NULL components.  A truncated write,
    a failed encoder batch, or a schema-evolved row produces short/NULL
    vectors in any real 100 TB embedding store, and the two engines'
    primitives DIVERGE on them: Spark's ``aggregate``/``zip_with``
    NULL-poison the dot product (zip pads the short side with NULL),
    while DuckDB's ``list_sum`` SKIPS NULLs and returns a silently
    partial dot.  Filtering malformed rows at the scan — the same
    quarantine an ingest pipeline applies — is row-local (no exchange),
    cheap next to any cosine, and exactly mirrored by valid_vector_sql,
    so neither engine ever evaluates the divergent primitive.  NON-
    finite components are deliberately NOT structural: NaN/Inf rows
    keep their documented cosine-level NULL routing (finite_spark)."""
    from pyspark.sql import functions as F

    return (
        col.isNotNull()
        & (F.size(col) == dim)
        & ~F.exists(col, lambda v: v.isNull())
    )


def valid_vector_sql(expr: str, dim: int) -> str:
    """DuckDB twin of valid_vector_spark.  list_count counts non-NULL
    elements, so ``list_count = len = dim`` pins both the width and the
    no-NULL-component rule; a NULL array yields NULL and is filtered."""
    return f"({expr} IS NOT NULL AND len({expr}) = {dim} AND list_count({expr}) = {dim})"


# Unicode-version skew supplements for the cross-engine case fold.
# The engine folds with Java's lower() + \\p{Mn} strip; the oracle with
# utf8proc's (DuckDB) — and the two trail the Unicode standard by
# different amounts in BOTH directions, so the raw primitives diverge
# on 218 codepoints (full-space sweep, 2026-08-16):
#   - 147 combining marks (Unicode 14+: U+0898.. Arabic, U+1ACC..,
#     the U+1CF00.. Znamenny block) utf8proc strips but Java's regex
#     tables don't know -> the ENGINE strips them explicitly;
#   - 70 uppercase letters (Vithkuqi U+10570.., Latin Ext-D additions
#     like U+A7CB -> U+0264) the JVM lowers but utf8proc keeps -> the
#     ORACLE maps them via translate() before lower();
#   - U+1734 HANUNOO PAMUDPOD, reclassified Mn -> Mc, which Java still
#     strips but utf8proc no longer does -> the ORACLE strips it.
# With the supplements both folds compute the UNION semantic (fold per
# the newest tables either engine knows), so fingerprints agree across
# the entire codepoint space.  Generated by
# tools/gen_unicode_fold_skew.py (--check re-measures; run after any
# Spark/JVM or DuckDB upgrade); tests/test_unicode_fold_skew.py pins
# zero divergence over the candidate sweep.
_FOLD_ENGINE_STRIP = "\u0898\u0899\u089a\u089b\u089c\u089d\u089e\u089f\u08ca\u08cb\u08cc\u08cd\u08ce\u08cf\u08d0\u08d1\u08d2\u0c3c\u0ece\u180f\u1ac1\u1ac2\u1ac3\u1ac4\u1ac5\u1ac6\u1ac7\u1ac8\u1ac9\u1aca\u1acb\u1acc\u1acd\u1ace\u1dfa\U00010efd\U00010efe\U00010eff\U00010f82\U00010f83\U00010f84\U00010f85\U00011070\U00011073\U00011074\U000110c2\U00011241\U00011f00\U00011f01\U00011f36\U00011f37\U00011f38\U00011f39\U00011f3a\U00011f40\U00011f42\U00013440\U00013447\U00013448\U00013449\U0001344a\U0001344b\U0001344c\U0001344d\U0001344e\U0001344f\U00013450\U00013451\U00013452\U00013453\U00013454\U00013455\U0001cf00\U0001cf01\U0001cf02\U0001cf03\U0001cf04\U0001cf05\U0001cf06\U0001cf07\U0001cf08\U0001cf09\U0001cf0a\U0001cf0b\U0001cf0c\U0001cf0d\U0001cf0e\U0001cf0f\U0001cf10\U0001cf11\U0001cf12\U0001cf13\U0001cf14\U0001cf15\U0001cf16\U0001cf17\U0001cf18\U0001cf19\U0001cf1a\U0001cf1b\U0001cf1c\U0001cf1d\U0001cf1e\U0001cf1f\U0001cf20\U0001cf21\U0001cf22\U0001cf23\U0001cf24\U0001cf25\U0001cf26\U0001cf27\U0001cf28\U0001cf29\U0001cf2a\U0001cf2b\U0001cf2c\U0001cf2d\U0001cf30\U0001cf31\U0001cf32\U0001cf33\U0001cf34\U0001cf35\U0001cf36\U0001cf37\U0001cf38\U0001cf39\U0001cf3a\U0001cf3b\U0001cf3c\U0001cf3d\U0001cf3e\U0001cf3f\U0001cf40\U0001cf41\U0001cf42\U0001cf43\U0001cf44\U0001cf45\U0001cf46\U0001e08f\U0001e2ae\U0001e4ec\U0001e4ed\U0001e4ee\U0001e4ef"
_FOLD_ORACLE_STRIP = "\u1734"
_FOLD_ORACLE_UPPER = "\u1c89\u2c2f\ua7c0\ua7c7\ua7c9\ua7cb\ua7cc\ua7d0\ua7d6\ua7d8\ua7da\ua7dc\ua7f5\U00010570\U00010571\U00010572\U00010573\U00010574\U00010575\U00010576\U00010577\U00010578\U00010579\U0001057a\U0001057c\U0001057d\U0001057e\U0001057f\U00010580\U00010581\U00010582\U00010583\U00010584\U00010585\U00010586\U00010587\U00010588\U00010589\U0001058a\U0001058c\U0001058d\U0001058e\U0001058f\U00010590\U00010591\U00010592\U00010594\U00010595\U00010d50\U00010d51\U00010d52\U00010d53\U00010d54\U00010d55\U00010d56\U00010d57\U00010d58\U00010d59\U00010d5a\U00010d5b\U00010d5c\U00010d5d\U00010d5e\U00010d5f\U00010d60\U00010d61\U00010d62\U00010d63\U00010d64\U00010d65"
_FOLD_ORACLE_LOWER = "\u1c8a\u2c5f\ua7c1\ua7c8\ua7ca\u0264\ua7cd\ua7d1\ua7d7\ua7d9\ua7db\u019b\ua7f6\U00010597\U00010598\U00010599\U0001059a\U0001059b\U0001059c\U0001059d\U0001059e\U0001059f\U000105a0\U000105a1\U000105a3\U000105a4\U000105a5\U000105a6\U000105a7\U000105a8\U000105a9\U000105aa\U000105ab\U000105ac\U000105ad\U000105ae\U000105af\U000105b0\U000105b1\U000105b3\U000105b4\U000105b5\U000105b6\U000105b7\U000105b8\U000105b9\U000105bb\U000105bc\U00010d70\U00010d71\U00010d72\U00010d73\U00010d74\U00010d75\U00010d76\U00010d77\U00010d78\U00010d79\U00010d7a\U00010d7b\U00010d7c\U00010d7d\U00010d7e\U00010d7f\U00010d80\U00010d81\U00010d82\U00010d83\U00010d84\U00010d85"


def _class_ranges(chars: str) -> str:
    """Compress a set of codepoints into a regex character-class
    fragment with ranges (first-last).  The supplement set is mostly
    contiguous blocks (U+0898-089F, U+1CF00-1CF46, ...), so ranges keep
    the compiled class small — a 147-literal-alternative class measured
    up to ~2x slower on t03's token path under load, and ranges are
    never slower than literals."""
    cps = sorted(ord(c) for c in chars)
    out = []
    i = 0
    while i < len(cps):
        j = i
        while j + 1 < len(cps) and cps[j + 1] == cps[j] + 1:
            j += 1
        a, b = chr(cps[i]), chr(cps[j])
        out.append(a if i == j else f"{a}-{b}")
        i = j + 1
    return "".join(out)


# compiled once: the supplement set is constant, and _class_ranges is a
# sort + scan over 147 codepoints — recomputing it per call-site build
# was pure waste (ADVICE r13)
_ENGINE_STRIP_CLASS = _class_ranges(_FOLD_ENGINE_STRIP)


def lower_markstrip_spark(col):
    """Cross-engine case fold: lower, then combining marks (\\p{Mn})
    stripped AFTER the lower.  Java's toLowerCase maps U+0130-class
    codepoints to base letter + combining mark where DuckDB's utf8proc
    maps to the bare letter, so any gate that lowercases before
    tokenizing/hashing must strip the marks on BOTH engines or the two
    split/hash differently on such text.  ONE definition per engine —
    the per-site copies this replaces are exactly the drift class the
    ws_words/canon_text helpers exist to prevent."""
    from pyspark.sql import functions as F

    folded = F.regexp_replace(
        F.lower(col), "[\\p{Mn}" + _ENGINE_STRIP_CLASS + "]", ""
    )
    # Final-sigma context rule: Java lowers word-final \u03a3 to \u03c2
    # where utf8proc lowers every \u03a3 to \u03c3 — a CONTEXT-dependent
    # divergence no per-codepoint supplement can close.  Unicode case
    # FOLDING maps both sigma forms to \u03c3, so the canonical fold
    # normalizes \u03c2 -> \u03c3 on both engines.
    return F.translate(folded, "\u03c2", "\u03c3")


def lower_markstrip_sql(expr: str) -> str:
    """DuckDB twin of lower_markstrip_spark (skew supplements: translate
    the stale-case uppers before lower, strip the reclassified mark)."""
    folded = (
        f"regexp_replace(lower(translate({expr},"
        f" '{_FOLD_ORACLE_UPPER}', '{_FOLD_ORACLE_LOWER}')),"
        f" '[\\p{{Mn}}{_FOLD_ORACLE_STRIP}]', '', 'g')"
    )
    # final-sigma normalization, mirroring lower_markstrip_spark
    return f"translate({folded}, '\u03c2', '\u03c3')"


def canon_text_spark(col):
    """Canonical fingerprint form of a text column: the lower_markstrip
    case fold, explicit-ASCII-class edge strip, whitespace runs
    collapsed to one space.  One definition per engine keeps the md5
    fingerprints (t04, p02's dedup key) hash-identical across engines
    on any input."""
    from pyspark.sql import functions as F

    sep = f"[{ASCII_WS}]"
    stripped = F.regexp_replace(
        lower_markstrip_spark(col), f"^{sep}+|{sep}+$", ""
    )
    return F.regexp_replace(stripped, f"{sep}+", " ")


def canon_text_sql(expr: str) -> str:
    """DuckDB twin of canon_text_spark."""
    edges = (
        f"regexp_replace({lower_markstrip_sql(expr)},"
        f" '^[{ASCII_WS}]+|[{ASCII_WS}]+$', '', 'g')"
    )
    return f"regexp_replace({edges}, '[{ASCII_WS}]+', ' ', 'g')"


def grams_expr(n: int, body: str) -> str:
    """ANSI-safe n-gram transform over a tokenized column ``w``.

    ``sequence(1, 0)`` DESCENDS in Spark, so a ``greatest(..., 0)``
    upper bound feeds ``slice``/subscripts invalid indices (an error
    under ANSI mode) on docs shorter than the gram width — every gram
    builder must short-circuit those to an empty array, matching the
    oracles' ``generate_series(1, 0)`` yielding no rows.  ``body`` is
    the per-position SQL lambda body over index ``i`` (1-based)."""
    return (
        f"CASE WHEN size(w) >= {n} THEN "
        f"transform(sequence(1, size(w) - {n - 1}), i -> {body}) "
        f"ELSE CAST(array() AS ARRAY<STRING>) END"
    )


def _sql_scalar_lit(v) -> str:
    """Render one int/float as a Spark SQL literal token (exact: repr of
    a Python float is the shortest round-trip form, and Spark's parser
    round-trips it to the same IEEE double; the D suffix pins DoubleType
    — a bare ``1.0`` would parse as DECIMAL(2,1))."""
    if isinstance(v, bool) or v is None:
        raise TypeError(f"unsupported literal {v!r}")
    if isinstance(v, int):
        return str(v) if -(2**31) <= v < 2**31 else f"{v}L"
    if isinstance(v, float):
        return repr(v) + "D"
    raise TypeError(f"unsupported literal {v!r}")


def const_array(vals: list) -> Column:
    """Literal array column (ints/doubles, one level of nesting) built by
    PARSING one SQL string instead of one py4j call per element.

    ``F.array(*[F.lit(v) ...])`` and even ``F.lit(list)`` cost ~0.7ms of
    driver/py4j work PER ELEMENT, so a 729-slot model table costs ~0.5s
    of pure plan-construction time on every query build (measured; the
    bench and the HTTP path build fresh plans per request, so this is a
    per-invocation toll, constant in data size but dominant at bench
    scale).  One F.expr parse is ~1ms regardless of width, resolves to
    the same CreateArray tree, and Catalyst constant-folds it to the
    identical Literal the old forms produced (value- and type-checked in
    tests).  Element types follow SQL literal rules: int32-range ints ->
    INT, wider -> L-suffixed BIGINT, floats -> D-suffixed DOUBLE."""
    from pyspark.sql import functions as F

    def render(x) -> str:
        if isinstance(x, (list, tuple)):
            return "array(" + ",".join(render(e) for e in x) + ")"
        return _sql_scalar_lit(x)

    return F.expr(render(list(vals)))


def fan_out(df: DataFrame) -> DataFrame:
    """Spread a narrow input over all cores BEFORE heavy per-row compute
    (regex tokenize, shingle explode, md5).  Only fires when the scan
    reads fewer files than the cluster has slots (single-row-group local
    files; a few giant files) — on real multi-file data it's a no-op, so
    no shuffle is added at scale.  Where it does fire, shuffle bytes ~=
    input bytes while the downstream CPU work is many times that, the
    same trade the ingest path makes before its parse UDF.

    The probe uses ``inputFiles()`` (plan metadata only) rather than
    ``df.rdd.getNumPartitions()``, which would force an RDD conversion
    and full plan analysis on the driver per call."""
    sc = df.sparkSession.sparkContext
    n_inputs = len(df.inputFiles())
    if 0 < n_inputs < sc.defaultParallelism:
        return df.repartition(sc.defaultParallelism)
    return df


# import for registration side effects
from . import relational  # noqa: E402,F401
from . import events  # noqa: E402,F401
from . import dedup  # noqa: E402,F401
from . import similarity  # noqa: E402,F401
from . import text  # noqa: E402,F401
from . import rdf_surface  # noqa: E402,F401
from . import temporal  # noqa: E402,F401
from . import sampling  # noqa: E402,F401
from . import streaming_gate  # noqa: E402,F401
from . import skew  # noqa: E402,F401
from . import multimodal_surface  # noqa: E402,F401
from . import update_gate  # noqa: E402,F401

__all__ = ["QUERIES", "ORACLES", "query", "load"]
