"""Deterministic ordinals and running sums with one strategy choice (SURVEY §2 W1).

Every operator here — ``global_ordinal``, ``grouped_ordinal``,
``global_cumsum`` and, through ``global_ordinal``, ``encode.dense_ids`` —
returns a value that depends only on each row's position in the total
order of the sort key (callers add tie-break columns to make it total).
Where rows are sorted, and by how many tasks, cannot change the result,
so the operator is free to pick the cheapest execution:

* **small** — one task over the checkpointed input: ``coalesce(1)`` +
  ``Window.orderBy`` (``partitionBy`` for the grouped ordinal). No
  sample, no shuffle, no second checkpoint, no driver collect; the window
  stays lazy until the consumer's action.
* **scalable** — range repartitioning, which holds at 10^12 rows where a
  one-task window would not:

  1. ``repartitionByRange`` on the full sort key (boundaries come from
     sampling, but the final rank is boundary-independent);
  2. per-partition window (parallel) — range partition ids are ordered,
     so the global value = partition offset + partition-local value;
  3. offsets = cumulative totals over the per-partition histogram (one
     tiny collect, broadcast-joined back).

  Unlike value-bucketing schemes (e.g. ``floor(score * K)``), range
  partitioning stays balanced when the leading sort column has few
  distinct values with huge tie groups — the realistic shape for scores.

**Selection rule** (``_prepare``, the only decision point): the input is
checkpointed unless it already is a scanned leaf, and the checkpoint's
bytes are read on the driver from the block-manager master (no Spark
job). At most ``spark.sql.autoBroadcastJoinThreshold`` bytes —
the session's existing "small enough for every task to hold" — takes the
small path. A threshold of -1, or an unknown size (a local relation, a
partly evicted checkpoint), takes the scalable path. Optimizer
statistics are no substitute: after a few joins they overestimate by
dozens of orders of magnitude.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _is_materialized(df: DataFrame) -> bool:
    """True when ``df`` is already a checkpointed/scanned leaf (LogicalRDD
    from ``localCheckpoint`` / ``createDataFrame``), i.e. re-executing it
    costs a scan, not a recompute of upstream lineage."""
    try:
        name = df._jdf.queryExecution().logical().getClass().getSimpleName()
        return name in ("LogicalRDD", "LocalRelation")
    except Exception:
        return False


def _leaf_bytes(df: DataFrame) -> int | None:
    """Block-manager bytes (memory + disk) of the checkpointed RDD under a
    LogicalRDD leaf; None unless every partition of it is stored.

    Asked of the block-manager master, which each task updates before it
    finishes, so the answer is complete once the checkpoint returns.
    ``getRDDStorageInfo`` would not do: it reads the UI status store,
    which the listener bus fills asynchronously, so under load it can
    still miss blocks and flip the strategy from one run to the next."""
    try:
        rdd = df._jdf.queryExecution().logical().rdd()
        sc = df.sparkSession.sparkContext
        master = sc._jsc.sc().env().blockManager().master()
        block_id = sc._jvm.org.apache.spark.storage.RDDBlockId
        total = 0
        for i in range(rdd.getNumPartitions()):
            held = master.getBlockStatus(block_id(rdd.id(), i), False)
            if held.isEmpty():
                return None
            status = held.values().head()
            total += status.memSize() + status.diskSize()
        return total
    except Exception:
        return None


def _broadcast_threshold(df: DataFrame) -> int:
    try:
        conf = df.sparkSession._jsparkSession.sessionState().conf()
        return int(conf.autoBroadcastJoinThreshold())
    except Exception:
        return -1


def _prepare(df: DataFrame) -> tuple[DataFrame, bool]:
    """→ (leaf, small): checkpoint non-trivial lineage once, then choose
    the strategy from the stored leaf's size (module docstring). The
    range path's ``repartitionByRange`` runs its child twice (boundary
    sample + shuffle map), so the upstream — often a full scoring
    pipeline — would otherwise be computed twice."""
    from kgspark.util import materialize

    if not _is_materialized(df):
        df = materialize(df)
    limit = _broadcast_threshold(df)
    size = _leaf_bytes(df) if limit >= 0 else None
    return df, size is not None and size <= limit


def _ranged_with_offsets(
    df: DataFrame,
    order_cols: list[str],
    agg_cols: list[str],
):
    """Scalable path, phase 1.

    Range-repartitions the (already checkpointed) leaf on ``order_cols``
    (materialized so every downstream job sees identical boundaries),
    then computes, per ordered partition, the EXCLUSIVE prefix totals of
    each ``agg_cols`` entry over all earlier partitions ("*" = row
    count). Returns ``(ranged, off_df)`` where ``ranged`` carries ``_pid``
    and ``off_df`` is a tiny (n_partitions)-row offset table to
    broadcast-join back — the per-partition histogram is the ONLY
    driver-side collect, so the pattern holds at any row count.
    """
    from kgspark.util import materialize

    spark = df.sparkSession
    # scale-adaptive width: track the (AQE-coalesced) input partition
    # count — an explicit repartitionByRange(N) is exempt from AQE
    # coalescing, so a fixed N would mean N near-empty range tasks on
    # small inputs and too-few on huge ones. Cap at 2x cluster
    # parallelism (the session's shuffle sizing policy).
    try:
        in_parts = df.rdd.getNumPartitions()
    except Exception:
        in_parts = spark.sparkContext.defaultParallelism * 2
    num_partitions = max(8, min(
        in_parts, spark.sparkContext.defaultParallelism * 2))
    cols = [F.col(c) for c in order_cols]
    ranged = materialize(df.repartitionByRange(num_partitions, *cols)) \
        .withColumn("_pid", F.spark_partition_id())

    aggs = [
        (F.count("*") if c == "*" else F.sum(c)).alias(f"_t{i}")
        for i, c in enumerate(agg_cols)
    ]
    hist = ranged.groupBy("_pid").agg(*aggs).collect()
    hist.sort(key=lambda r: r["_pid"])
    offsets, acc = [], [0] * len(agg_cols)
    for r in hist:
        offsets.append((r["_pid"], *acc))
        for i in range(len(agg_cols)):
            acc[i] += r[f"_t{i}"] or 0
    schema = "`_pid` int, " + ", ".join(
        f"`_off{i}` long" for i in range(len(agg_cols)))
    off_df = spark.createDataFrame(offsets, schema)
    return ranged, off_df


def _ranged_ordinal(df: DataFrame, order_cols: list[str],
                    out: str) -> DataFrame:
    ranged, off_df = _ranged_with_offsets(df, order_cols, ["*"])
    w = Window.partitionBy("_pid").orderBy(*[F.col(c) for c in order_cols])
    return (
        ranged.withColumn("_rn", F.row_number().over(w))
        .join(F.broadcast(off_df), "_pid")
        .withColumn(out, (F.col("_off0") + F.col("_rn")).cast("long"))
        .drop("_pid", "_rn", "_off0")
    )


def global_cumsum(
    df: DataFrame,
    order_cols: list[str],
    sum_cols: list[str],
    prefix: str = "cum_",
) -> DataFrame:
    """Running sums of integral ``sum_cols`` in the order of
    ``order_cols`` — the replacement for
    ``F.sum(c).over(Window.orderBy(...))``. Both paths keep that
    window's default RANGE frame, so rows that tie on ``order_cols``
    share the sum over their whole tie group (range partitioning never
    splits a tie group).
    """
    df, small = _prepare(df)
    if small:
        w = Window.orderBy(*[F.col(c) for c in order_cols])
        out = df.coalesce(1)
        for c in sum_cols:
            out = out.withColumn(prefix + c, F.sum(c).over(w))
        return out
    ranged, off_df = _ranged_with_offsets(df, order_cols, sum_cols)
    w = Window.partitionBy("_pid").orderBy(*[F.col(c) for c in order_cols])
    out = ranged.join(F.broadcast(off_df), "_pid")
    for i, c in enumerate(sum_cols):
        out = out.withColumn(prefix + c, F.sum(c).over(w) + F.col(f"_off{i}"))
    return out.drop("_pid", *[f"_off{i}" for i in range(len(sum_cols))])


def grouped_ordinal(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[str],
    out: str = "gidx",
) -> DataFrame:
    """→ (group_cols, other input columns, ``out``): per-group 1-based
    ordinal in the order of ``order_cols``; rows with a null group key
    are dropped.

    The scalable path avoids ``Window.partitionBy(group)``, so it is safe
    when single groups are huge (hot subjects, giant type-signature
    pools) or when there are only a handful of groups (e.g. 4 relations):
    the range partitioner splits WITHIN a group because the sort key
    continues past the group columns, so no task ever owns a whole group.
    ordinal = global ordinal over (group ++ order) minus the group's
    offset (min global ordinal, a plain shuffle agg) + 1.
    """
    df, small = _prepare(df)
    if small:
        w = Window.partitionBy(*group_cols).orderBy(
            *[F.col(c) for c in order_cols])
        rest = [c for c in df.columns if c not in group_cols]
        return (
            df.dropna(subset=group_cols).coalesce(1)
            .withColumn(out, F.row_number().over(w).cast("long"))
            .select(*group_cols, *rest, out)
        )
    r = _ranged_ordinal(df, group_cols + order_cols, "_gord")
    mins = r.groupBy(*group_cols).agg(F.min("_gord").alias("_g0"))
    return (
        r.join(mins, group_cols)
        .withColumn(out, (F.col("_gord") - F.col("_g0") + 1).cast("long"))
        .drop("_gord", "_g0")
    )


def global_ordinal(
    df: DataFrame,
    order_cols: list[str],
    out: str = "rank",
) -> DataFrame:
    """→ input + 1-based ``out`` = the row's position in the total order
    of ``order_cols`` (the replacement for ``row_number()`` over an
    un-partitioned window)."""
    df, small = _prepare(df)
    if small:
        w = Window.orderBy(*[F.col(c) for c in order_cols])
        return df.coalesce(1).withColumn(
            out, F.row_number().over(w).cast("long"))
    return _ranged_ordinal(df, order_cols, out)
