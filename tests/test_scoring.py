"""Scorer + error-injection + ranking parity vs DuckDB oracles (sf0.001)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kgspark import errorsgen, extract, pipeline, rank, scoring, synth
from tests.conftest import SF_TINY, assert_df_equal


@pytest.fixture(scope="module")
def graph(spark):
    return pipeline.build_graph(spark, SF_TINY)


@pytest.fixture(scope="module")
def raw_cte():
    return extract.triples_raw_sql(synth.repo_files_sql("duckdb"))


def test_sdvalidate_parity(spark, duck, graph, raw_cte):
    got = scoring.sdvalidate_scores(graph.triples, graph.types) \
        .withColumn("score", F.round("score", 6))
    assert_df_equal(got, duck.execute(scoring.sdvalidate_sql(raw_cte)))


def test_sdvalidate_semantics(graph):
    """Scores are cosines in [0, 1]; written_in facts to the hot lang score
    high (typical type distribution), and all facts get exactly one score."""
    sc = scoring.sdvalidate_scores(graph.triples, graph.types).cache()
    assert sc.count() == graph.triples.count()
    mn, mx = sc.agg(F.min("score"), F.max("score")).first()
    assert 0.0 <= mn and mx <= 1.0 + 1e-9


def test_rpf_parity(spark, duck, graph, raw_cte):
    got = scoring.rpf(graph.triples).withColumn("rpf", F.round("rpf", 6))
    assert_df_equal(got, duck.execute(scoring.rpf_sql(raw_cte)))


def test_domran_parity(spark, duck, graph, raw_cte):
    got = scoring.domran_scores(graph.triples, graph.types) \
        .withColumn("score", F.round("score", 6))
    assert_df_equal(got, duck.execute(scoring.domran_scores_sql(raw_cte)))


def test_errors_kind1(spark, duck, graph, raw_cte):
    errs = errorsgen.inject_errors_kind1(graph.triples, graph.n_entities, 0.05)
    assert_df_equal(errs, duck.execute(errorsgen.errors_kind1_sql(raw_cte, 0.05)))
    # negatives never collide with positives (U7 exclusion property)
    assert errs.join(graph.triples, ["s", "p", "o"], "inner").count() == 0


def test_errors_kind2_type_signature(spark, graph):
    """Kind-2 replacements preserve the exact type signature (J10 blocking)."""
    errs = errorsgen.inject_errors_kind2(graph.triples, graph.types, 0.05)
    assert errs.join(graph.triples, ["s", "p", "o"], "inner").count() == 0
    sig = graph.types.groupBy("e").agg(
        F.concat_ws(",", F.sort_array(F.collect_set("t"))).alias("sig"))
    changed_s = errs.where(F.col("s") != F.col("orig_s"))
    j = (changed_s.join(sig.withColumnRenamed("e", "s"), "s")
         .withColumnRenamed("sig", "new_sig")
         .join(sig.withColumnRenamed("e", "orig_s"), "orig_s"))
    assert j.where(F.col("new_sig") != F.col("sig")).count() == 0


def test_flagship_parity(spark, duck, raw_cte):
    got = pipeline.flagship_ranked(spark, SF_TINY, 0.05)
    assert_df_equal(got, duck.execute(pipeline.flagship_ranked_sql(raw_cte, 0.05)))


def test_metrics_parity(spark, duck, raw_cte):
    got = pipeline.flagship_metrics(spark, SF_TINY, 0.05)
    assert_df_equal(got, duck.execute(pipeline.flagship_metrics_sql(raw_cte, 0.05)))


def test_metrics_detect_errors(spark, raw_cte):
    """The scorer actually detects injected noise: ROC-AUC well above chance
    (reference evaluation semantics, detect_errors.py:25-47)."""
    m = pipeline.flagship_metrics(spark, SF_TINY, 0.05).first()
    assert m["n_errors"] > 0
    assert m["roc_auc"] > 0.6, m
    assert m["f_mean_rank"] <= m["mean_rank"]


def test_global_ordinal_is_dense(spark, graph):
    sc = scoring.sdvalidate_scores(graph.triples, graph.types) \
        .withColumn("score", F.round("score", 6))
    r = rank.rank_facts(sc)
    n = r.count()
    got = r.agg(F.min("rank"), F.max("rank"), F.countDistinct("rank")).first()
    assert tuple(got) == (1, n, n)


def test_evaluate_empty_input(spark, duck):
    """evaluate() on an empty ranked table returns one row: zero counts
    (n_facts was a NULL SUM before) and NULL averages — the oracle's
    answer on the same empty input. Derived lineage, so every ordinal
    inside checkpoints an empty leaf and takes the one-task path."""
    from kgspark import ordering

    ranked = spark.range(0).select(
        F.col("id").alias("s"), F.col("id").cast("int").alias("p"),
        F.col("id").alias("o"), (F.col("id") / 2.0).alias("score"),
        F.col("id").alias("rank"), (F.col("id") > 0).alias("is_error"))
    assert ordering._prepare(ranked)[1]
    got = rank.evaluate(ranked)
    assert got.first()["n_facts"] == 0
    want = duck.execute(rank.evaluate_sql(
        "SELECT 1::BIGINT AS s, 1 AS p, 1::BIGINT AS o, 0.5::DOUBLE AS score,"
        " false AS is_error WHERE false"))
    assert_df_equal(got, want)
