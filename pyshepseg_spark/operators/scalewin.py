"""Scale-safe GLOBAL ordered windows (two-phase prefix sums).

A ``Window.orderBy(...)`` with no partitionBy moves the entire input
to ONE partition (Spark warns "No Partition Defined for Window
operation") — correct at test scale, a scale-killer at 100 TB. The
scalable rewrite is the classic two-phase prefix sum:

  1. range-repartition by the order key (global order ACROSS
     partitions, bounded sizes within) and sort within partitions;
  2. aggregate ONE row per physical partition (count / sum) — at
     most #partitions rows, collected to the driver (bounded by
     cluster size, never data size) and cumulated into per-partition
     exclusive offsets;
  3. broadcast-join the offsets back and finish with a window
     PARTITIONED by the physical partition id — every window group
     is one bounded partition.

The engine's real pipelines number segments per image (the stitch
kernel carries a running id through each image's tiles, W2); these
helpers are the GLOBAL variants for operators whose order key has no
natural partition (reference analogues: the global contiguous relabel,
tiling.py doTiledShepherdSegmentation's running segment-ID offset).

The ranged frame is localCheckpoint'ed (eager): the per-partition
aggregate and the main pass must see the SAME range boundaries
(range partitioning samples its bounds, so recomputation across
jobs is not guaranteed to split identically). A checkpoint — unlike
the persist() used previously — freezes the partitioning even if a
partition is recomputed, and its storage is released by the context
cleaner as soon as the caller drops the returned DataFrame, so
repeated calls do not accumulate cached frames across a session.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

_PID = "__ssw_pid"
_OFF = "__ssw_off"


def _ranged(df, order_cols, npartitions=None):
    # localCheckpoint pins the sampled range boundaries (a re-run of
    # repartitionByRange may sample different splits, corrupting the
    # pid offsets) and lets the context cleaner release the blocks.
    # Cluster tradeoff (ADVICE r3): localCheckpoint truncates
    # lineage, so losing an executor that holds checkpointed blocks
    # fails the job instead of recomputing. That is accepted here:
    # recompute was never safe for this frame (the range-boundary
    # hazard above is a CORRECTNESS bug, not a cost), so the honest
    # cluster alternative is reliable checkpointing to durable
    # storage (spark.sparkContext.setCheckpointDir + .checkpoint()),
    # at one extra job + a distributed-FS write per call.
    npart = (npartitions
             or df.sparkSession.sparkContext.defaultParallelism)
    return (df.repartitionByRange(npart, *order_cols)
            .sortWithinPartitions(*order_cols)
            .withColumn(_PID, F.spark_partition_id())
            .localCheckpoint())


def _pid_offsets(ranged, agg_expr):
    """Exclusive per-partition prefix of ``agg_expr`` as a tiny
    broadcastable (pid, offset) frame. One row per physical
    partition; the collect is bounded by partition count."""
    per = (ranged.groupBy(_PID)
           .agg(F.coalesce(agg_expr, F.lit(0)).alias("_v"))
           .orderBy(_PID).collect())
    spark = ranged.sparkSession
    acc, rows = 0, []
    for r in per:
        rows.append((int(r[_PID]), acc))
        acc += int(r["_v"])
    if not rows:
        rows = [(0, 0)]
    return F.broadcast(spark.createDataFrame(
        rows, f"{_PID} int, {_OFF} long"))


def ordered_row_number(df, order_cols, out_col="row_number",
                       npartitions=None):
    """Global 1-based row_number by ``order_cols`` without a
    single-partition window. Rows must be globally unique under the
    order key for a deterministic result (dense_rank over unique
    keys is the same thing — W1's contiguous relabel)."""
    r = _ranged(df, order_cols, npartitions)
    off = _pid_offsets(r, F.count(F.lit(1)))
    w = Window.partitionBy(_PID).orderBy(*[F.col(c) for c in order_cols])
    return (r.join(off, _PID)
            .withColumn(out_col, F.row_number().over(w) + F.col(_OFF))
            .drop(_PID, _OFF))


def ordered_prefix_sum(df, order_cols, value_col, out_col="offset",
                       inclusive=False, npartitions=None):
    """Global running sum of ``value_col`` in ``order_cols`` order
    (exclusive by default — the W2 "global ID prefix offset" shape),
    two-phase: local window per bounded partition + broadcast
    cross-partition offsets."""
    r = _ranged(df, order_cols, npartitions)
    off = _pid_offsets(r, F.sum(value_col))
    upper = 0 if inclusive else -1
    w = (Window.partitionBy(_PID)
         .orderBy(*[F.col(c) for c in order_cols])
         .rowsBetween(Window.unboundedPreceding, upper))
    local = F.coalesce(F.sum(value_col).over(w), F.lit(0))
    return (r.join(off, _PID)
            .withColumn(out_col, (local + F.col(_OFF)).cast("long"))
            .drop(_PID, _OFF))


def bounded_topk(df, order_exprs, k, rank_col="rk"):
    """Global deterministic top-k with rank, scale-safe:
    ``orderBy().limit(k)`` plans as TakeOrderedAndProject
    (per-partition heaps merged on the driver — no single-partition
    shuffle), and the rank window runs over the k-row result only,
    partitioned by a constant so the window group is bounded by k."""
    top = df.orderBy(*order_exprs).limit(k).coalesce(1)
    # spark_partition_id() is non-foldable (a literal partition spec
    # gets optimized away, resurrecting the warning); after
    # limit(k).coalesce(1) it is constant 0, so the single window
    # group is exactly the k-row result.
    w = Window.partitionBy(F.spark_partition_id()).orderBy(*order_exprs)
    return top.withColumn(rank_col, F.row_number().over(w))
