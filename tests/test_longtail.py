"""Hierarchy closure, outlier wrapper, link-prediction eval, ASM blocking."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kgspark import evalops, extract, hierarchy, link, pipeline, scoring, synth, typesys
from tests.conftest import SF_TINY, assert_df_equal


@pytest.fixture(scope="module")
def graph(spark):
    return pipeline.build_graph(spark, SF_TINY)


@pytest.fixture(scope="module")
def raw_cte():
    return extract.triples_raw_sql(synth.repo_files_sql("duckdb"))


def test_transitive_closure_dag(spark):
    """H1 closure on a crafted 4-level chain + diamond."""
    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("x", "b"), ("x", "c")],
        "child string, parent string")
    clo = {(r["child"], r["parent"]) for r in hierarchy.transitive_closure(e).collect()}
    assert ("a", "d") in clo and ("a", "c") in clo and ("x", "d") in clo
    assert ("b", "a") not in clo  # no inversion


def test_types_closure_parity(spark, duck, graph, raw_cte):
    ta = typesys.type_assertions(graph.entities, graph.triples, graph.relations)
    got = hierarchy.types_closure(ta, graph.type_names)
    assert_df_equal(got, duck.execute(hierarchy.types_closure_sql(raw_cte)))
    # every entity inherits kind:thing after closure (U2 semantics)
    n_with_thing = got.where("t_name = 'kind:thing'").count()
    assert n_with_thing == graph.n_entities


def test_domran_materialize_parity(spark, duck, graph, raw_cte):
    got = hierarchy.materialize_domains_ranges(graph.triples_str)
    assert_df_equal(got, duck.execute(hierarchy.domran_materialize_sql(raw_cte)))


def test_zscore_parity_and_gating(spark, duck, graph, raw_cte):
    sdv = scoring.sdvalidate_scores(graph.triples, graph.types) \
        .withColumn("score", F.round("score", 6))
    got = evalops.zscore_outlier(sdv)
    assert_df_equal(got, duck.execute(evalops.zscore_outlier_sql(raw_cte)))
    # gating: above-mean scores map to exactly 1.0 (errordetector.py:101-103)
    assert got.where("adj_score > 1.0").count() == 0
    assert got.where("adj_score < 0").count() > 0


def test_link_prediction_eval_parity(spark, duck, graph, raw_cte):
    got = evalops.link_prediction_eval(graph.triples, graph.types, graph.entities)
    assert_df_equal(got, duck.execute(evalops.link_prediction_eval_sql(raw_cte)))
    r = got.first()
    assert r["n_eval"] > 0
    assert r["fmr"] <= r["mr"]  # filtered rank never exceeds raw
    assert 0 <= r["hits1"] <= r["hits3"] <= r["hits10"] <= 1


def test_symspell_parity_and_semantics(spark, duck, graph, raw_cte):
    got = link.symspell_pairs(graph.triples_raw)
    assert_df_equal(got, duck.execute(link.symspell_pairs_sql(raw_cte)))
    # symspell finds at least the casing/edit-variant pairs found by LSH+eq
    eq = link.verified_pairs(graph.triples_raw, max_lev=0)
    assert eq.exceptAll(got).count() == 0


def test_damerau_levenshtein_udf(spark, duck, graph, raw_cte):
    got = link.dl_pairs(graph.triples_raw)
    assert_df_equal(got, duck.execute(link.dl_pairs_sql(raw_cte)))
    # DL counts transposition as 1 where plain levenshtein says 2
    df = spark.createDataFrame([("abdc", "abcd")], "x string, y string")
    r = df.select(link.damerau_levenshtein_udf("x", "y").alias("dl"),
                  F.levenshtein("x", "y").alias("lev")).first()
    assert (r["dl"], r["lev"]) == (1, 2)


def test_word_freq_parity(spark, duck, graph, raw_cte):
    got = evalops.word_freq(graph.triples_str)
    assert_df_equal(got, duck.execute(evalops.word_freq_sql(raw_cte)))


def test_shacl_constraint_export(spark, graph):
    """M8: compiled constraints reference real relations/types and parse as
    the reference's output shape (shacl-sparql.py analog)."""
    from kgspark import constraints, patybred

    idx = graph.paths
    models = patybred.fit_models(graph.triples, idx, graph.types,
                                 graph.n_entities)
    doc = constraints.compile_shacl(models, graph.relations, graph.type_names)
    assert "@prefix sh: <http://www.w3.org/ns/shacl#>" in doc
    assert "sh:SPARQLConstraint" in doc and "SELECT $this ?o WHERE" in doc
    # one shape per relation with evidence features
    assert doc.count("a sh:NodeShape") >= 2
    # conditions reference the KG vocabulary
    assert "kind:" in doc or "imports" in doc


def test_filter_entities(spark, graph, duck, raw_cte):
    """S2 analog: deny-prefix entity filter, oracle-checked."""
    from kgspark import extract as ex
    from kgspark import synth as sy

    got = ex.filter_entities(graph.triples_raw)
    assert_df_equal(got, duck.execute(
        ex.filtered_triples_sql(sy.repo_files_sql("duckdb"))))
    assert got.count() <= graph.triples_raw.count()


def test_merge_equivalent_types(spark, graph):
    """U1: mapping t2→t1 unions memberships and dedupes."""
    two = [r["t"] for r in graph.type_names.limit(2).collect()]
    eq = spark.createDataFrame([(two[1], two[0])], "t_from int, t_into int")
    merged = hierarchy.merge_equivalent_types(graph.types, eq)
    assert merged.where(F.col("t") == two[1]).count() == 0
    before = graph.types.where(F.col("t").isin(two)).select("e").distinct().count()
    after = merged.where(F.col("t") == two[0]).count()
    assert after == before


def test_domain_range_path_pruning(spark, graph):
    """P6: with the vocabulary's domains/ranges, incompatible compositions
    are pruned; every surviving depth-2 path is type-correct."""
    from kgspark import patybred

    dom, ran = hierarchy.domain_range_ids(graph.relations)
    idx = patybred.enumerate_paths(graph.triples, 4, domains=dom, ranges=ran)
    R = 4

    def dr(p):
        if p > R:
            return ran.get(p - R), dom.get(p - R)
        return dom.get(p), ran.get(p)

    d2 = [p for p in idx.paths if len(p) == 2]
    assert d2, "typed pruning should still admit compatible paths"
    for a, b in d2:
        assert dr(a)[1] == dr(b)[0], (a, b)
    # and pruning is strictly tighter than the untyped BFS
    untyped = graph.paths
    assert len(d2) <= sum(1 for p in untyped.paths if len(p) == 2)


def test_iforest_parity_and_semantics(spark, duck, graph, raw_cte):
    """M5 'if' variant: deterministic isolation forest — exact oracle
    parity (fit reproduced Spark-free, intervals embedded as VALUES), the
    wrapper's gating shape, and the core IF property that rarer (more
    isolated) low scores get shorter paths → lower decision values."""
    from tests.conftest import SF_TINY

    sdv = scoring.sdvalidate_scores(graph.triples, graph.types) \
        .withColumn("score", F.round("score", 6))
    got = evalops.iforest_outlier(sdv)
    assert_df_equal(
        got, duck.execute(evalops.iforest_outlier_sql(raw_cte, SF_TINY)))
    assert got.where("adj_score > 1.0").count() == 0
    rows = got.where("adj_score < 1.0").collect()
    assert rows, "no below-mean facts got a decision value"
    # decision = 0.5 - 2^(-E[h]/c(n)) is bounded in (-0.5, 0.5)
    assert all(-0.5 <= r["adj_score"] < 0.5 for r in rows)
