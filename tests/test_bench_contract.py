"""bench.py's row lists, checked WITHOUT running Spark: every headline
row names a registered query, and no row is timed twice.
"""

import bench
from jena_fuseki_kafka_spark.queries import QUERIES


def test_headline_names_are_registered():
    ghosts = [n for n in bench.HEADLINE if n not in QUERIES]
    assert not ghosts, f"bench HEADLINE names unknown queries: {ghosts}"


def test_no_duplicate_headline_rows():
    assert len(bench.HEADLINE) == len(set(bench.HEADLINE))
    overlap = set(bench.HEADLINE_BATCH) & set(bench.HEADLINE_STREAMING)
    assert not overlap, overlap
