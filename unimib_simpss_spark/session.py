"""SparkSession factory with scale-appropriate defaults.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default all cores); the
same configuration is designed to transfer to a multi-executor cluster:
AQE handles runtime partition coalescing / skew joins, shuffle partition
count is a starting hint that AQE re-plans, and Arrow is enabled for the
few Pandas-UDF operators (vector similarity, multimodal decode).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Tuned for the local[32]/128GiB test rig; on a real cluster raise
# shuffle partitions (or rely on AQE initialNum) and set executor memory
# via spark-submit — nothing here hard-codes single-node assumptions.
_DEFAULTS: dict[str, str] = {
    # Adaptive query execution: runtime coalescing, broadcast demotion,
    # skew-join splitting. Essential at 100 TB where static planning is
    # wrong by construction.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for pandas_udf / mapInPandas paths (vector + multimodal ops).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Deterministic timestamp semantics regardless of host TZ (the
    # reference pipeline stamps ISO-8601 wall-clock strings; we normalize
    # to UTC at the edge).
    "spark.sql.session.timeZone": "UTC",
    # 128 MiB scan splits — the parquet-side default that keeps a 100 TB
    # scan at ~800k tasks rather than millions.
    "spark.sql.files.maxPartitionBytes": "134217728",
    # The driver's events table stores TIMESTAMP(NANOS) parquet, which
    # Spark refuses by default; read as long and normalize in the catalog.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Keep ANSI off: the engine mirrors the reference's permissive
    # null-on-bad-cast behavior (missing columns become NULL at the sink,
    # cassandra_storage.py:85-86) and DuckDB-oracle arithmetic parity.
    "spark.sql.ansi.enabled": "false",
    # Generated-class cache (static: read once per JVM). Spark's default
    # of 100 entries is smaller than one pass of this engine's hosts: a
    # repeated plan would find its classes evicted and pay Janino plus
    # JIT again on every run. Working sets, counted as CodegenMetrics source
    # compiles in a cold session under an unbounded cache (one entry per
    # class and class loader), local[4]: one q36+q62+q67 corpus pass at
    # sf0.01 323; the six-host corpus set (q33 q36 q38 q61 q62 q67) 765;
    # one bench.py 38-query pass at sf0.1 1553, the largest. 2000 covers
    # it with headroom for the cache's four independently evicted
    # segments; a second corpus pass then compiles ~6 classes, not ~330.
    "spark.sql.codegen.cache.maxEntries": "2000",
}


def get_spark(
    app_name: str = "unimib-simpss-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default ``*``)
    unless a master is already configured (spark-submit on a cluster).
    ``shuffle_partitions`` defaults to the core count — AQE coalesces down,
    so err high.
    """
    # Python workers deserialize UDF closures that reference this
    # package by module path — make it importable regardless of the
    # driver's cwd. Local mode: workers inherit this env (set before
    # the JVM starts). Real cluster: ship a wheel via --py-files; this
    # is a no-op there.
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pypath = os.environ.get("PYTHONPATH", "")
    if repo_root not in pypath.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            repo_root + (os.pathsep + pypath if pypath else "")
        )

    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        cpus_s = os.environ.get("SPARK_GRAFT_CPUS", "32")
        shuffle_partitions = int(cpus_s) if cpus_s.isdigit() else 32

    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULTS)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
