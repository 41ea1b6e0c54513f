"""Plan-regression tests: pin the scale-critical physical-plan shapes.

These assert properties of `.explain()` output, so a future refactor that
silently reintroduces a second source scan, a single-partition exchange,
a cartesian product, or column-pruning loss fails loudly — the plan
qualities the 100 TB design depends on, enforced rather than claimed.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kgspark import correct, encode, extract, pipeline, rank, synth, textstats
from tests.conftest import SF_TINY, conf_set


def _plan(df, mode: str = "formatted") -> str:
    spark = df.sparkSession
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode))


def _tree(df) -> str:
    """The operator tree, one line per node WITH its arguments (`simple`
    mode): the `formatted` tree prints a bare `Exchange (n)`, so an
    `Exchange SinglePartition` probe on it could never fail."""
    return _plan(df, "simple")


def test_extract_plan_single_scan_no_python(spark):
    """The single-scan extraction claim, enforced: one parquet scan, at
    most two exchanges (the input spread for single-file fixtures + the
    final dedup), and — since the default mention detectors are JVM
    regexp_extract_all — NO Python evaluation node."""
    rf = synth.repo_files(spark, SF_TINY)
    tr = extract.extract_triples(rf, file_mentions=False)
    t = _tree(tr)
    assert t.count("Scan parquet") == 1
    assert "ArrowEvalPython" not in t
    assert "BatchEvalPython" not in t
    assert t.count("Exchange") <= 2  # input spread + dedup
    assert "CartesianProduct" not in t


def test_extract_pandas_path_single_python_pass(spark):
    """The opt-in pandas-UDF hook still evaluates both mention detectors
    in ONE Arrow python pass over a single scan."""
    rf = synth.repo_files(spark, SF_TINY)
    tr = extract.extract_triples(rf, use_pandas_udf=True,
                                 file_mentions=False)
    t = _tree(tr)
    assert t.count("Scan parquet") == 1
    assert t.count("ArrowEvalPython") == 1
    assert t.count("Exchange") <= 2  # input spread + dedup


def test_source_column_pruning(spark):
    """Projections reach the parquet scan: token_stats needs only
    (doc_id, text) and the scan must read exactly that."""
    docs = spark.read.parquet(f"{SF_TINY}/documents.parquet")
    p = _plan(textstats.token_stats(docs))
    m = re.search(r"ReadSchema: struct<([^>]*)>", p)
    assert m, p
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols == {"doc_id", "text"}


def test_encode_broadcasts_dims_no_cartesian(spark):
    """Dictionary encoding: the relation dim joins as a broadcast; no
    cartesian product anywhere in the encode plan."""
    g = pipeline.build_graph(spark, SF_TINY)
    t = _tree(encode.encode_triples(g.triples_str, g.entities, g.relations))
    assert "BroadcastHashJoin" in t or "BroadcastNestedLoopJoin" not in t
    assert "CartesianProduct" not in t
    assert "Exchange SinglePartition" not in t


def test_rank_has_no_single_partition_exchange(spark):
    """A naive global window would plan `Exchange SinglePartition`. The
    small-input path coalesces the checkpointed leaf to one task
    instead, so no exchange moves rows at all (the scalable path is
    pinned by the test below)."""
    g = pipeline.build_graph(spark, SF_TINY)
    scores = g.triples.select(
        "s", "p", "o", (F.col("s") % 7 / 10.0).alias("score"))
    naive = scores.withColumn("rank", F.row_number().over(
        Window.orderBy("score", "s", "p", "o")))
    assert "Exchange SinglePartition" in _tree(naive)  # probe sanity
    t = _tree(rank.rank_facts(scores))
    assert "Exchange SinglePartition" not in t
    assert "Coalesce 1" in t


def test_ordinals_take_range_path_when_broadcast_disabled(spark):
    """With `spark.sql.autoBroadcastJoinThreshold=-1` rank_facts and
    dense_ids take the scalable path: a window per range partition plus
    the broadcast offset table — never one task, never a
    single-partition exchange."""
    g = pipeline.build_graph(spark, SF_TINY)
    scores = g.triples.select(
        "s", "p", "o", (F.col("s") % 7 / 10.0).alias("score"))
    names = g.triples_str.select(F.col("subj").alias("name"))
    with conf_set(spark, "spark.sql.autoBroadcastJoinThreshold", "-1"):
        plans = [_tree(rank.rank_facts(scores)),
                 _tree(encode.dense_ids(names))]
    for t in plans:
        assert "Exchange SinglePartition" not in t
        assert "Coalesce 1" not in t
        assert "windowspecdefinition(_pid" in t
        assert "BroadcastHashJoin" in t


def test_transe_scale_mode_gradient_plan_has_no_collect_list(spark):
    """The scale-mode (deterministic=False) gradient fold must be a
    plain partial-sum hash aggregate: no collect_list / array_sort per
    entity, so hub-entity degree never materializes as one giant row.
    The deterministic mode keeps the sorted fold (oracle parity) — the
    probe is validated against it."""
    from kgspark import embeddings

    t = spark.createDataFrame(
        [(1, 1, 2), (2, 1, 3), (3, 2, 4), (4, 2, 5), (5, 1, 1)],
        "s long, p int, o long")
    E, R = embeddings.transe_init(t)
    E2d, _ = embeddings.transe_epoch(t, E, R, n_entities=5, epoch=0,
                                     deterministic=True)
    assert "collect_list" in _plan(E2d)  # probe sanity: fold is visible
    E2s, _ = embeddings.transe_epoch(t, E, R, n_entities=5, epoch=0,
                                     deterministic=False)
    p = _plan(E2s)
    assert "collect_list" not in p
    assert "array_sort" not in p
    assert "HashAggregate" in p


def test_rescal_scale_mode_gradient_plan_has_no_collect_list(spark):
    """RESCAL's scale-mode gradient fold (d²-wide relation side) must be
    the same plain partial-sum hash aggregate as TransE's — no
    collect_list / array_sort rows growing with entity degree."""
    from kgspark import embeddings

    t = spark.createDataFrame(
        [(1, 1, 2), (2, 1, 3), (3, 2, 4), (4, 2, 5), (5, 1, 1)],
        "s long, p int, o long")
    E, W = embeddings.rescal_init(t)
    E2d, _ = embeddings.rescal_epoch(t, E, W, n_entities=5, epoch=0,
                                     deterministic=True)
    assert "collect_list" in _plan(E2d)  # probe sanity: fold is visible
    E2s, W2s = embeddings.rescal_epoch(t, E, W, n_entities=5, epoch=0,
                                       deterministic=False)
    for df in (E2s, W2s):
        p = _plan(df)
        assert "collect_list" not in p
        assert "array_sort" not in p
        assert "HashAggregate" in p


def test_ivf_refined_centroid_plan_is_aggregate_only(spark):
    """The Lloyd refinement must be a plain hash aggregate of d-column
    partial means (map-side combine): no collect_list of member vectors
    per cluster, and the only centroid-vs-corpus compare is the
    broadcast of the tiny centroid table (by-design N×√N map, never a
    corpus-vs-corpus product)."""
    from kgspark import simsearch

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = simsearch.ivf_centroids_refined(emb)
    p = _plan(cents)
    assert "collect_list" not in p
    assert "HashAggregate" in p
    assert "BroadcastNestedLoopJoin" in p  # emb × broadcast(centroids)
    assert "CartesianProduct" not in p     # never a shuffled product


def test_corrections_plan_no_cartesian_no_single_partition(spark):
    """The correction funnel (blocking self-join + rescore joins +
    bounded per-suspect window) must stay free of cartesian products and
    single-partition exchanges."""
    g = pipeline.build_graph(spark, SF_TINY)
    ranked = pipeline.flagship_ranked(spark, SF_TINY, 0.05)
    corr = correct.correct_errors(
        ranked, ranked.select("s", "p", "o"), g.types, g.entities,
        min_score=0.01, min_score_gain=1.0)
    t = _tree(corr)
    assert "CartesianProduct" not in t
    assert "Exchange SinglePartition" not in t
