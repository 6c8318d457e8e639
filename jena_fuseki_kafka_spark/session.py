"""SparkSession construction with scale-appropriate defaults.

Tests/bench run on local[N]; the configs below are the ones that matter on a
real cluster too: AQE (runtime re-planning, skew-join handling), Arrow for
the Python<->JVM boundary (all our parse UDFs are Arrow-batched), and a
shuffle-partition count the caller can size to the data.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))


def build_session(
    app_name: str = "jena-fuseki-kafka-spark",
    master: str | None = None,
    shuffle_partitions: int = DEFAULT_SHUFFLE_PARTITIONS,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    On a production cluster you would omit ``master`` and let the submitter
    decide; ``shuffle_partitions`` should be sized ~2-3x total cores with AQE
    coalescing small partitions at runtime.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # parquet scans: keep row-group pruning + vectorized reader on
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # store reads name their leaf directories from the manifest; past
        # 32 paths Spark lists them again with a Spark job.  Measured on a
        # 94-leaf store (local[4], 4 vCPUs): building the read took 1 job
        # and 0.8-1.1 s at the default, 0 jobs and 70-110 ms with the
        # listing on the driver
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1000000")
        # Spark re-shuffles a one-partition input when a plan's size
        # estimate passes this (128 MB by default).  Without CBO a join's
        # estimate is the product of its inputs' sizes: at the default,
        # the three-pattern BGP + OPTIONAL over a 19,934-quad one-partition
        # snapshot planned 2 exchanges for its one-task sort-merge joins,
        # and none with the bound lifted
        .config("spark.sql.maxSinglePartitionBytes", "9223372036854775807b")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    _ship_package(spark)
    return spark


def _ship_package(spark: SparkSession) -> None:
    """Make this package importable on executors.

    Python workers don't inherit the driver's sys.path mutations; our parse
    UDFs (mapInPandas closures) reference package modules, so executors must
    be able to import them.  ``addPyFile`` with a zip of the package is the
    pattern that works identically on local mode and a real cluster.
    """
    try:
        import importlib.util

        spec = importlib.util.find_spec("jena_fuseki_kafka_spark")
        if spec is None or not spec.submodule_search_locations:
            return
        pkg_dir = spec.submodule_search_locations[0]
        import tempfile
        import zipfile

        zpath = os.path.join(tempfile.gettempdir(), "jena_fuseki_kafka_spark_pkg.zip")
        if not os.path.exists(zpath) or os.path.getmtime(zpath) < max(
            (os.path.getmtime(os.path.join(r, f)) for r, _, fs in os.walk(pkg_dir) for f in fs),
            default=0,
        ):
            with zipfile.ZipFile(zpath + ".tmp", "w") as zf:
                for root, _, files in os.walk(pkg_dir):
                    for f in files:
                        if f.endswith(".py"):
                            full = os.path.join(root, f)
                            rel = os.path.join(
                                "jena_fuseki_kafka_spark", os.path.relpath(full, pkg_dir)
                            )
                            zf.write(full, rel)
            os.replace(zpath + ".tmp", zpath)
        spark.sparkContext.addPyFile(zpath)
    except Exception:  # best-effort: in-repo runs work without it
        pass
