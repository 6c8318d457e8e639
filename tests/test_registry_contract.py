"""Registry guards: every registered query has a DuckDB oracle that
plans, the driver contract exports each query once as a callable, and
the README's counts match the registry."""

import __spark_entry__ as entry
from jena_fuseki_kafka_spark.queries import ORACLES, QUERIES


def test_every_query_has_an_oracle():
    missing = [n for n in QUERIES if n not in ORACLES]
    assert not missing, f"queries without oracles: {missing}"


def test_entry_exports_match():
    names = list(entry.queries())
    assert len(names) == len(set(names))
    # every registered query is callable
    assert all(callable(fn) for fn in entry.queries().values())


def test_all_oracles_plan_in_duckdb():
    # EXPLAIN (plan, don't execute) every oracle against the real tables:
    # an oracle SQL typo surfaces here in seconds instead of in a full
    # oracle sweep
    import os

    import duckdb

    sf_dir = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem "
              "events documents embeddings").split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    bad = []
    for name, sql in ORACLES.items():
        try:
            con.execute(f"EXPLAIN {sql}")
        except Exception as e:
            bad.append((name, str(e).splitlines()[0]))
    assert not bad, f"oracles that fail to plan: {bad}"


def test_readme_counts_match_reality():
    """ADVICE r14 flagged a stale README probe count, and r15 found the
    same drift again (31 vs 34 gates, 122 vs 125 queries), so lint the
    README's numbers against the living registries so docs cannot
    silently rot as gates are added."""
    import os
    import re

    import tools.parallelism_probe as pp

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "README.md")) as f:
        readme = f.read()

    m = re.search(r"cluster-shape invariance: (\d+)\n\s+hash-sensitive gates \((\d+) batch \+ (\d+) streaming", readme)
    assert m, "README parallelism-probe sentence not found / reworded"
    total, batch, streaming = map(int, m.groups())
    assert total == len(pp.GATES), (
        f"README says {total} probe gates; tools/parallelism_probe.py has "
        f"{len(pp.GATES)}"
    )
    assert batch + streaming == total

    m = re.search(r"`queries\(\)` \((\d+) oracle-backed", readme)
    assert m, "README queries() sentence not found / reworded"
    assert int(m.group(1)) == len(QUERIES), (
        f"README says {m.group(1)} registered queries; the registry has "
        f"{len(QUERIES)}"
    )
