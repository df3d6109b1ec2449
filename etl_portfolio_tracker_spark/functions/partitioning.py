"""Partitioning decisions read off a frame's planned physical output.

`spread()` is the parallelism guard for explode-heavy stages.

A stage whose input is tiny but whose output is huge (shingle
explode ~300×, embedding pos-explode ~64×) inherits the INPUT's
partitioning: locally a single parquet split — and AQE's coalescing
keeps keyed-repartition outputs at one partition too, because it only
sees the small pre-explode row count. The result is a hot loop
(hashing, codegen aggs) pinned to one core.

`spread()` repartitions ONLY when the frame has fewer partitions than
the cluster has slots — on a real cluster a 100 TB table already
arrives in thousands of splits and the call is a no-op, so it never
adds a full-table shuffle at scale; locally it unlocks all cores for
the downstream explode. The explicit numPartitions pins AQE (a bare
keyed repartition is fair game for coalescing; a numbered one is
honored).

`one_partition()` is the predicate "planned output is one partition",
shared by the ledger folds (`fold.cluster_by_key`) and
`one_partition_join()`, which runs a join between two one-partition
frames (the session memos of `derive`, and what is computed from
them) inside their one task instead of planning a broadcast stage.

`max_single_partition_bytes()` is the session's
spark.sql.maxSinglePartitionBytes, the size up to which
EnsureRequirements accepts one partition where a clustered
distribution is required; `one_partition_join()` and the
connected-components round (`dedup.min_label_components`) compare
against it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def spread(df: DataFrame, *by: str) -> DataFrame:
    """Ensure `df` has at least defaultParallelism partitions,
    optionally hash-partitioned by `by` (so a later groupBy on the
    same keys needs no second exchange)."""
    sc = df.sparkSession.sparkContext
    n = sc.defaultParallelism
    if df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n, *by) if by else df.repartition(n)


def max_single_partition_bytes(spark) -> int:
    """The session's value of spark.sql.maxSinglePartitionBytes, read
    through its SQLConf entry (the planner's own read)."""
    entry = spark._jvm.org.apache.spark.sql.internal.SQLConf \
        .MAX_SINGLE_PARTITION_BYTES()
    return spark._jsparkSession.sessionState().conf().getConf(entry)


def one_partition(df: DataFrame, max_bytes: int | None = None) -> bool:
    """Whether `df`'s planned physical output is one partition and,
    given `max_bytes`, Catalyst's size estimate of it is at most that.

    Decided from the plan alone (one `sparkPlan()`):
    `df.rdd.getNumPartitions()` can run the frame's shuffle stages at
    construct time under AQE. A frame without a logical link passes
    the size test, as it does in EnsureRequirements."""
    plan = df._jdf.queryExecution().sparkPlan()
    if plan.outputPartitioning().numPartitions() != 1:
        return False
    if max_bytes is None:
        return True
    link = plan.logicalLink()
    return (not link.isDefined()
            or link.get().stats().sizeInBytes() <= max_bytes)


def one_partition_join(left: DataFrame, right: DataFrame, on, how: str,
                       broadcast: bool = False) -> DataFrame:
    """`left.join(right, on, how)`, with `right` the small side; run
    inside the inputs' one task when both plan as one partition.

    Then `right` carries a `shuffle_hash` hint: a single partition
    already satisfies the hash join's clustering, so EnsureRequirements
    adds no exchange and the join runs inside its consumer's task. The
    join Spark picks without the hint for a small side is a broadcast,
    which runs as a job of its own.

    EnsureRequirements leaves one-partition join children unshuffled
    only when the size estimate of each is at most
    spark.sql.maxSinglePartitionBytes; above it, the hint would buy a
    hash exchange on both sides. The estimate can be far above the
    real size (generators and windows inflate it: over the built
    memos, `portfolio_twr`'s is ~46 MB at sf0.001 and ~4.7 GB at
    sf0.1), so the helper compares it as the planner does, with the
    session's value of that conf.

    In every other case the join is the plain one, `right` wrapped in
    `F.broadcast` when `broadcast` is set."""
    cap = max_single_partition_bytes(left.sparkSession)
    if one_partition(left, cap) and one_partition(right, cap):
        return left.join(right.hint("shuffle_hash"), on, how)
    return left.join(F.broadcast(right) if broadcast else right, on, how)
