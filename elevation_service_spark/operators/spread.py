"""Scale-adaptive parallelism spread for few-split scans (r8).

Every text/tokenize-heavy operator in this engine is scan-shaped: at
production scale the scan supplies the partitions and nothing here runs.
The sandbox's inputs, however, are single-row-group parquet files —
Spark cannot split ONE row group across tasks, so a "parallel" scan of
documents.parquet is really one task doing all the tokenizing serially
while the other cores idle (r8 measurement: the collocations tokenize
stage ran 1-2 tasks; splitting configs like
``spark.sql.files.openCostInBytes`` are a dead end because the extra
splits carry zero row groups).

``spread_few_splits`` round-robin repartitions to ``defaultParallelism``
ONLY when the frame is a shuffle-free derivation of fewer input files
than cores.  The probe is metadata-only (optimized plan string + scan
file list — never ``.rdd``, which executes upstream shuffles eagerly
under AQE), and conservative on both edges: any shuffle-producing
operator in the plan means the rows are already distributed (→ no-op),
and a non-file source means we cannot know (→ no-op).  At 100 TB the
scan has thousands of splits and the helper never adds an exchange;
locally it unlocks the idle cores for one shuffle of the (small by
construction) few-file input.  It is applied only where it won an
alternating A/B at 4 cores (ARCHITECTURE.md): extract_coords (the
extract_coords_bulk bench row) and winnow_fingerprints.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# logical operators whose presence means the rows are already (re)spread
# by a shuffle — the file count of the underlying scans then says nothing
# about the frame's real partitioning
_SHUFFLE_OPS = ("Join", "Aggregate", "Repartition", "Window",
                "Sort", "Deduplicate")


def spread_few_splits(df: DataFrame) -> DataFrame:
    """Round-robin repartition to defaultParallelism iff the scan
    undersupplies parallelism (see module docstring); identity otherwise.
    Results are row-set-identical either way — callers must only use it
    upstream of order-insensitive logic (aggregates, joins, per-row
    transforms), never to feed an unsorted collect_list."""
    n = df.sparkSession.sparkContext.defaultParallelism
    try:
        plan = df._jdf.queryExecution().optimizedPlan().toString()
    except Exception:
        return df
    if any(op in plan for op in _SHUFFLE_OPS):
        return df
    files = df.inputFiles()
    return df.repartition(n) if files and len(files) < n else df
