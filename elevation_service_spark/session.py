"""SparkSession factory with the engine's scale-oriented defaults.

Design scale is a 1000-executor cluster over ~100 TB; this sandbox runs
local[$SPARK_GRAFT_CPUS].  Everything tunable here is a conf, not code:
AQE (runtime re-planning + skew-join splitting), Arrow batching for the
pandas-UDF kernels, and shuffle partitioning sized to the parallelism.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app: str = "spark-elevation",
              cpus: int | str | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    cpus = int(cpus or os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # Make the engine importable by executor-side Python workers regardless
    # of the launch cwd (local mode spawns workers with the driver's env; on
    # a real cluster use spark-submit --py-files dist/*.zip instead — see
    # BENCH/BASELINE.md §packaging).
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if repo_root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = f"{repo_root}{os.pathsep}{pp}" if pp else repo_root
    if shuffle_partitions is None:
        # on a real cluster this would be ~2-3x total cores; locally match it
        shuffle_partitions = max(2 * cpus, 8)
    # driver heap: half the host's RAM, capped at 12g — the JVM shares the
    # host with the Python workers and the caller's own process
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # InferFiltersFromGenerate turns every explode-over-expression
        # into an inferred `size(e) > 0 AND isnotnull(e)` filter that
        # EMBEDS the full generator expression (twice) and is pushed to
        # the scan, below any exchange — for this engine's HOF-heavy
        # generators (bigram/shingle transforms, regex extraction
        # pipelines, from_json ring parses) that re-evaluates the most
        # expensive expression in the query 2 extra times per input row
        # in the scan stage (r8, measured: the collocations bigram
        # aggregate dropped 5.0-7.0 s -> 0.6 s with the rule excluded).
        # The filter is semantically redundant — a non-outer Generate
        # drops empty/null arrays itself — so plans stay
        # result-identical at every scale; the rule only ever pays when
        # the generator input is trivially cheap, which none of ours are.
        .config("spark.sql.optimizer.excludedRules",
                "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
        # no Python call-site capture on every Column/DataFrame call (about
        # 4 py4j round trips and an IPython import attempt each); the
        # trade-off: an error's DataFrame context loses its Python line
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM") or f"{min(12 << 10, ram_mb // 2)}m")
        .config("spark.driver.maxResultSize", "4g")
        .config("spark.python.worker.reuse", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
