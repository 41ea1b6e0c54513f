"""Both ordering strategies give identical ordinals.

kgspark.ordering picks one task (``coalesce(1)`` + window) when the
checkpointed input is at most ``spark.sql.autoBroadcastJoinThreshold``
bytes, and range partitioning otherwise (always at -1). The ordinal
depends only on the total sort order, so every operator must return the
same rows either way — at any input partitioning, with ties in the
leading sort column, and on empty input.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kgspark import encode, ordering
from tests.conftest import conf_set

THRESHOLD = "spark.sql.autoBroadcastJoinThreshold"


def _input(spark, n: int, parts: int):
    """(g, k, id, v): few groups, a leading key with heavy ties, a
    unique tie-break id and a small integral value; derived lineage, so
    the operators checkpoint it first."""
    return spark.range(n).select(
        (F.col("id") % 5).alias("g"),
        (F.col("id") * 37 % 11).alias("k"),
        F.col("id"),
        (F.col("id") % 3).alias("v"),
    ).repartition(parts)


OPS = {
    "global_ordinal": lambda df: ordering.global_ordinal(df, ["k", "id"], "r"),
    "grouped_ordinal": lambda df: ordering.grouped_ordinal(
        df, ["g"], ["k", "id"], "r"),
    # ties on k: both paths give each tie group its whole group's sum
    "global_cumsum": lambda df: ordering.global_cumsum(df, ["k"], ["v", "id"]),
    "dense_ids": lambda df: encode.dense_ids(df.select(
        F.concat(F.lit("n"), (F.col("id") % 97).cast("string"))
        .alias("name"))),
}


def _run(spark, op, df, small: bool):
    threshold = spark.conf.get(THRESHOLD) if small else "-1"
    with conf_set(spark, THRESHOLD, threshold):
        leaf = ordering._prepare(df)[0]
        assert ordering._prepare(leaf)[1] is small
        out = OPS[op](leaf)
        return out.columns, sorted(map(tuple, out.collect()))


@pytest.mark.parametrize("op", sorted(OPS))
@pytest.mark.parametrize("n", [0, 700])
def test_small_and_range_paths_agree(spark, op, n):
    got = {(small, parts): _run(spark, op, _input(spark, n, parts), small)
           for small in (True, False) for parts in (1, 16)}
    first = got[(True, 1)]
    assert all(v == first for v in got.values())
    assert len(first[1]) == (0 if n == 0 else
                             97 if op == "dense_ids" else n)


def test_ordinal_values(spark):
    """The shared result is the textbook one: dense 1..n in sort order,
    per-group restarts, tie-inclusive running sums."""
    df = _input(spark, 200, 4)
    rows = _run(spark, "global_ordinal", df, True)[1]
    assert [r[4] for r in sorted(rows, key=lambda r: (r[1], r[2]))] \
        == list(range(1, 201))
    grouped = _run(spark, "grouped_ordinal", df, True)[1]
    for g in range(5):
        ranks = [r[4] for r in sorted((r for r in grouped if r[0] == g),
                                      key=lambda r: (r[1], r[2]))]
        assert ranks == list(range(1, len(ranks) + 1))
    cum = _run(spark, "global_cumsum", df, True)[1]
    for _g, k, _i, _v, cum_v, _cum_id in cum:
        assert cum_v == sum(r[3] for r in cum if r[1] <= k)


def test_leaf_bytes_are_the_stored_bytes(spark):
    """The size signal is the checkpoint's stored bytes, read from the
    block-manager master as soon as the checkpoint returns; Spark's
    listener-fed storage info reports the same once its bus has drained.
    A leaf whose blocks are gone has no size, so it takes the range path."""
    leaf = ordering._prepare(_input(spark, 700, 4))[0]
    size = ordering._leaf_bytes(leaf)
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    rdd = leaf._jdf.queryExecution().logical().rdd()
    info = [i for i in sc.getRDDStorageInfo() if i.id() == rdd.id()]
    assert size == info[0].memSize() + info[0].diskSize() > 0
    rdd.unpersist(True)
    assert ordering._leaf_bytes(leaf) is None
    assert ordering._prepare(leaf)[1] is False
