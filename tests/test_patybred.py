"""PaTyBRED: path BFS, features, negatives, classifier (sf0.001 + toys)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kgspark import extract, patybred, pipeline, synth
from tests.conftest import SF_TINY, assert_df_equal


@pytest.fixture(scope="module")
def graph(spark):
    return pipeline.build_graph(spark, SF_TINY)


@pytest.fixture(scope="module")
def idx(graph):
    return graph.paths


@pytest.fixture(scope="module")
def raw_cte():
    return extract.triples_raw_sql(synth.repo_files_sql("duckdb"))


def test_path_composition_toy(spark):
    """J1 on a hand-computed graph: pairs of path (1,2) = A·B boolean product."""
    t = spark.createDataFrame(
        [(1, 1, 2), (2, 1, 3), (3, 1, 4), (2, 2, 10), (3, 2, 11), (5, 2, 12)],
        "s long, p int, o long",
    )
    idx = patybred.enumerate_paths(t, 2, min_sup=1)
    assert (1, 2) in idx.paths
    got = {(r["s"], r["o"]) for r in idx.paths[(1, 2)].collect()}
    assert got == {(1, 10), (2, 11)}
    # the inverse-reversed twin (4,3) is registered as a separate feature
    # path whose pairs are the TRANSPOSE (reference patybred.py:273-276) —
    # only one of the pair is ever computed via the boolean product
    assert (4, 3) in idx.paths
    twin = {(r["s"], r["o"]) for r in idx.paths[(4, 3)].collect()}
    assert twin == {(10, 1), (11, 2)}
    assert idx.supports[(4, 3)] == idx.supports[(1, 2)]


def test_bfs_pruning_backtrack(spark):
    """Immediate inverse backtrack (p, inv p) is never a candidate."""
    t = spark.createDataFrame([(1, 1, 2), (3, 1, 4)], "s long, p int, o long")
    idx = patybred.enumerate_paths(t, 1, min_sup=1)
    assert all(
        not (len(p) == 2 and p[1] == patybred.inv(p[0], 1)) for p in idx.paths
    )


def test_symmetric_detection(spark):
    t = spark.createDataFrame(
        [(1, 1, 2), (2, 1, 1), (5, 1, 6), (6, 1, 5), (1, 2, 2)],
        "s long, p int, o long",
    )
    assert patybred.symmetric_relations(t) == [1]


def test_paths_depth2_parity(spark, duck, graph, idx, raw_cte):
    rows = [(p[0], p[1], s) for p, s in sorted(idx.supports.items()) if len(p) == 2]
    sdf = spark.createDataFrame(rows, "p1 int, p2 int, support bigint")
    assert_df_equal(sdf, duck.execute(patybred.paths_depth2_sql(raw_cte)))


def test_negatives_parity_and_exclusion(spark, duck, graph, raw_cte):
    pos = patybred.sample_positives(graph.triples)
    negs = patybred.generate_negatives(pos, graph.triples, graph.n_entities)
    assert_df_equal(negs, duck.execute(patybred.negatives_sql(raw_cte)))
    assert negs.join(graph.triples, ["s", "p", "o"], "inner").count() == 0


def test_features_parity(spark, duck, graph, idx, raw_cte):
    fl = patybred.features_long(graph.triples, idx, graph.types)
    assert_df_equal(fl, duck.execute(patybred.features_long_sql(raw_cte)))


def test_own_path_feature_excluded(spark, graph, idx):
    """A fact (s,r,o) must not see path (r,) among its features — that
    feature is a perfect label leak (reference patybred.py:570-571)."""
    fl = patybred.features_long(graph.triples, idx, graph.types)
    leak = fl.where(F.col("feat") == F.concat(F.lit("path_"), F.col("p")))
    assert leak.count() == 0


def test_classifier_learns_and_scores(spark, graph, idx):
    """Models separate pos from deterministic negatives; degenerate
    relations score 0.0 (reference patybred.py:536-537)."""
    models = patybred.fit_models(graph.triples, idx, graph.types, graph.n_entities)
    assert models.where(F.col("feat") == "_bias").count() > 0
    pos_scores = patybred.score_facts(graph.triples, idx, graph.types, models)
    neg = patybred.generate_negatives(
        patybred.sample_positives(graph.triples), graph.triples, graph.n_entities)
    neg_scores = patybred.score_facts(neg, idx, graph.types, models)
    mp = pos_scores.agg(F.avg("score")).first()[0]
    mn = neg_scores.agg(F.avg("score")).first()[0]
    assert mp > mn + 0.2, (mp, mn)


def test_patybred_detects_errors(spark):
    m = patybred.patybred_metrics(spark, SF_TINY, 0.05).first()
    assert m["roc_auc"] > 0.7, dict(m.asDict())
    assert m["pr_auc"] > 0.3, dict(m.asDict())


def test_scoring_partition_invariance(spark, graph, idx):
    """Same scores at different parallelism (N vs 4N requirement)."""
    models = patybred.fit_models(graph.triples, idx, graph.types, graph.n_entities)
    a = patybred.score_facts(
        graph.triples.repartition(1), idx, graph.types, models
    ).withColumn("score", F.round("score", 9))
    b = patybred.score_facts(
        graph.triples.repartition(16), idx, graph.types, models
    ).withColumn("score", F.round("score", 9))
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_beam_selection_matches_python_oracle(spark, graph, idx):
    """W5/J2: top-N beam per level by endpoint-overlap relevance equals a
    driver-side recomputation over collected endpoint sets."""
    pairs = {p: {(r["s"], r["o"]) for r in df.collect()}
             for p, df in idx.paths.items()}

    def ends(p):
        ps = pairs[p]
        return {s for s, _ in ps}, {o for _, o in ps}

    R = 4
    inv = lambda x: x - R if x > R else x + R  # noqa: E731
    singles = sorted(p for p in idx.paths if len(p) == 1)
    cands, seen = [], set()
    for p1 in singles:
        for r2 in range(1, 2 * R + 1):
            if p1[-1] == inv(r2):
                continue
            new = p1 + (r2,)
            canon = tuple(inv(i) for i in reversed(new))
            if new in seen or canon in seen:
                continue
            seen.add(new)
            cands.append(new)

    def rel(c, mode):
        p1, r2 = c[:-1], c[-1]
        s1, o1 = ends(p1)
        s2, o2 = ends((r2,))
        i = len(o1 & s2)
        if i == 0:
            return 0.0
        return float(i) if mode == "inter" else float(i * len(s1 | o2))

    for mode in ("inter", "m2"):
        beam = __import__("kgspark.patybred", fromlist=["x"]).enumerate_paths(
            graph.triples, 4, max_paths_per_level=3, path_selection_mode=mode)
        got = sorted(p for p in beam.paths if len(p) == 2)
        want = sorted(sorted(cands, key=lambda c: (-rel(c, mode), c))[:3])
        # enumerated (canonical) keeps must come from the beam's top-3 …
        canon_got = [p for p in got if p in set(cands)]
        assert set(canon_got) <= set(want), (mode, canon_got, want)
        # … and each kept path also registers its inverse-reversed twin
        for p in canon_got:
            assert tuple(inv(i) for i in reversed(p)) in beam.paths
        assert len(got) <= 6


def test_neighborhood_negatives(spark, graph):
    """R2: negatives draw o' from objects of the same subject; never
    collide with true triples; deterministic across partitionings."""
    pos = patybred.sample_positives(graph.triples)
    negs = patybred.generate_negatives_neighborhood(
        pos, graph.triples, graph.n_entities).cache()
    assert negs.count() > 0
    assert negs.join(graph.triples, ["s", "p", "o"], "inner").count() == 0
    # bulk of negatives reuse an object of the same subject
    same_s_objs = graph.triples.select("s", "o").distinct()
    inside = negs.join(same_s_objs, ["s", "o"], "left_semi").count()
    assert inside >= 0.9 * negs.count()
    a = patybred.generate_negatives_neighborhood(
        pos.repartition(1), graph.triples, graph.n_entities)
    assert a.exceptAll(negs).count() == 0 and negs.exceptAll(a).count() == 0


def test_pra_negatives(spark, duck, graph, idx, raw_cte):
    """R3: exponential-rank hard negatives, oracle parity + exclusion."""
    negs = patybred.generate_negatives_pra(graph.triples, idx).cache()
    assert_df_equal(negs, duck.execute(patybred.negatives_pra_sql(raw_cte)))
    assert negs.count() > 0
    assert negs.join(graph.triples, ["s", "p", "o"], "inner").count() == 0


def test_fit_matches_pure_pandas_oracle(spark, graph, idx):
    """SURVEY §5.3: re-run the classifier fit in pure pandas/numpy on the
    collected training data and assert the Spark applyInPandas models are
    numerically identical — isolates Spark plumbing from model math for
    the one pipeline piece without a DuckDB oracle."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    pos = patybred.sample_positives(graph.triples)
    neg = patybred.generate_negatives(pos, graph.triples, graph.n_entities)
    train = pos.withColumn("label", F.lit(1)).unionByName(
        neg.withColumn("label", F.lit(0)))
    fl = patybred.features_long(train.select("s", "p", "o"), idx, graph.types)
    rows = train.join(
        fl.groupBy("s", "p", "o").agg(F.collect_set("feat").alias("feats")),
        ["s", "p", "o"], "left").toPandas()

    # driver-side oracle: identical GD per relation
    oracle = {}
    for p, grp in rows.groupby("p"):
        grp = grp.copy()
        grp["feats"] = grp["feats"].map(
            lambda v: sorted(v) if v is not None else [])
        grp = grp.sort_values(["label", "s", "o"]).reset_index(drop=True)
        feat_set = sorted({f for r in grp["feats"] for f in r})
        if not feat_set or grp["label"].nunique() < 2:
            continue
        fidx = {f: i for i, f in enumerate(feat_set)}
        X = np.zeros((len(grp), len(feat_set)))
        for i, r in enumerate(grp["feats"]):
            for f in r:
                X[i, fidx[f]] = 1.0
        y = grp["label"].to_numpy(dtype=np.float64)
        w = np.zeros(X.shape[1]); b = 0.0; n = float(len(y))
        for _ in range(patybred.LR_ITERS):
            pr = 1.0 / (1.0 + np.exp(-(X @ w + b)))
            g = X.T @ (pr - y) / n + patybred.LR_L2 * w
            b -= patybred.LR_RATE * float(np.sum(pr - y) / n)
            w -= patybred.LR_RATE * g
        for f, wi in zip(feat_set, w):
            oracle[(int(p), f)] = wi
        oracle[(int(p), "_bias")] = b

    got = {(int(r["p"]), r["feat"]): r["w"]
           for r in patybred.fit_models(
               graph.triples, idx, graph.types, graph.n_entities).collect()}
    assert set(got) == set(oracle)
    for k in oracle:
        assert abs(got[k] - oracle[k]) < 1e-9, (k, got[k], oracle[k])


def test_dt_fit_matches_hand_oracle():
    """The numpy gini tree on a hand-computable boolean dataset:
    y = f0 AND NOT f1; root split ties (f0 vs f1 both 0.2857) break to
    the lower feature index; the f0=1 branch splits on f1."""
    import pandas as pd

    rows = ([["f0"]] * 4          # x0=1, x1=0 → y=1
            + [["f0", "f1"]] * 3  # x0=1, x1=1 → y=0
            + [[]] * 3            # x0=0, x1=0 → y=0
            + [["f1"]] * 2)       # x0=0, x1=1 → y=0
    y = [1] * 4 + [0] * 8
    pdf = pd.DataFrame({
        "p": 1, "s": range(len(y)), "o": range(len(y)),
        "label": y, "feats": rows,
    })
    out = patybred._fit_group_dt(pdf)
    leaves = {(tuple(r.feats_true), tuple(r.feats_false)):
              (r.prob, r.n) for r in out.itertuples()}
    assert leaves == {
        ((), ("f0",)): (0.0, 5),
        (("f0",), ("f1",)): (1.0, 4),
        (("f0", "f1"), ()): (0.0, 3),
    }


def test_dt_scoring_matches_pandas_walk(spark, graph, idx):
    """score_facts_dt (JVM leaf-match joins) equals a driver-side pandas
    walk of the same leaf table over collected feature sets."""
    models = patybred.fit_models_dt(
        graph.triples, idx, graph.types, graph.n_entities)
    scored = patybred.score_facts_dt(
        graph.triples, idx, graph.types, models)

    leaves = models.collect()
    fl = patybred.features_long(graph.triples, idx, graph.types)
    feats = {(r["s"], r["p"], r["o"]): set(r["fs"]) for r in
             fl.groupBy("s", "p", "o")
             .agg(F.collect_set("feat").alias("fs")).collect()}
    modeled = {r["p"] for r in leaves}

    got = {(r["s"], r["p"], r["o"]): r["score"] for r in scored.collect()}
    assert set(got) == {(r["s"], r["p"], r["o"])
                        for r in graph.triples.collect()}
    for (s, p, o), sc in got.items():
        fs = feats.get((s, p, o), set())
        if p not in modeled:
            assert sc == 0.0
            continue
        hits = [lv for lv in leaves if lv["p"] == p
                and set(lv["feats_true"]) <= fs
                and not (set(lv["feats_false"]) & fs)]
        assert len(hits) == 1, (s, p, o, len(hits))
        assert abs(sc - hits[0]["prob"]) < 1e-12


def test_dt_shacl_compiles_suspect_leaves(spark, graph, idx):
    from kgspark import constraints

    models = patybred.fit_models_dt(
        graph.triples, idx, graph.types, graph.n_entities)
    doc = constraints.compile_shacl_dt(
        models, graph.relations, graph.type_names, min_sup=2, max_prob=0.5)
    assert "sh:SPARQLConstraint" in doc
    assert "EXISTS {" in doc
    # every emitted shape targets a real relation
    rels = {r["name"] for r in graph.relations.collect()}
    import re
    for m in re.finditer(r":(\w+)Shape a sh:NodeShape", doc):
        assert m.group(1) in rels


def test_reference_gate_corrections_recover_true_objects(spark):
    """The reference acceptance gate (min_score=0.75, gain=1.5,
    /root/reference/correct_errors.py:17-18,126-141) must fire
    non-trivially on the rich corpus: kind-3 typo confusions REPLACE the
    original fact, the multi-typed-object guard is enforced, and every
    accepted correction that lands on an injected error restores the
    exact original object."""
    import __spark_entry__ as entry
    from kgspark import correct, errorsgen
    from tests.conftest import SF_SMALL

    g = pipeline.build_graph(spark, SF_SMALL, variant="rich")
    b = patybred.pb_bundle(spark, SF_SMALL, entry.P_ERROR, clf="lgr",
                           kind=3, variant="rich", replace=True)
    corr = correct.correct_errors_patybred(
        b.ranked, b.facts, g.types, g.entities, b.idx, b.models,
        min_score=entry.REF_MIN_SCORE, min_score_gain=entry.REF_GAIN,
        require_multitype=True)
    errs = errorsgen.inject_errors_kind3(g.triples, g.entities, entry.P_ERROR)
    rows = corr.join(errs.select("s", "p", "o", "orig_o"),
                     ["s", "p", "o"], "left").collect()
    assert len(rows) > 0
    hits = [r for r in rows if r["orig_o"] is not None]
    assert len(hits) > 0
    assert all(r["o_new"] == r["orig_o"] for r in hits)
    # the gate itself did real work: accepted scores clear both bars
    for r in rows:
        assert r["new_score"] > entry.REF_MIN_SCORE
        assert r["new_score"] >= entry.REF_GAIN * r["score"] or r["score"] == 0


def test_chi2_topk_matches_pandas_oracle():
    """M2 chi2 SelectKBest vs an independent pandas contingency oracle
    (sklearn formula: presence-only observed vs class-prior expected)."""
    import numpy as np
    import pandas as pd

    rng = np.random.RandomState(7)
    X = (rng.rand(200, 12) < 0.3).astype(float)
    y = (rng.rand(200) < 0.5).astype(float)
    names = [f"f{i:02d}" for i in range(12)]

    df = pd.DataFrame(X, columns=names)
    df["y"] = y
    p1 = df["y"].mean()
    scores = {}
    for c in names:
        tot = df[c].sum()
        obs1 = df.loc[df["y"] == 1, c].sum()
        obs0 = tot - obs1
        exp1, exp0 = tot * p1, tot * (1 - p1)
        scores[c] = ((obs0 - exp0) ** 2 / exp0 if exp0 > 0 else 0.0) \
            + ((obs1 - exp1) ** 2 / exp1 if exp1 > 0 else 0.0)
    want = sorted(sorted(names, key=lambda c: (-scores[c], c))[:5])

    keep = patybred._chi2_topk(X, y, names, 5)
    assert [names[j] for j in keep] == want


def test_feature_selection_caps_model_features(spark, graph, idx):
    """iorels=True inflates the feature space past FS_MAX; the fitted
    weight table must then carry at most max_feats weights per relation
    (plus the bias), and fewer than the unselected fit."""
    full = patybred.fit_models(graph.triples, idx, graph.types,
                               graph.n_entities, iorels=True)
    sel = patybred.fit_models(graph.triples, idx, graph.types,
                              graph.n_entities, iorels=True, max_feats=10)
    nf = {r["p"]: r["n"] for r in full.where("feat <> '_bias'")
          .groupBy("p").count().withColumnRenamed("count", "n").collect()}
    ns = {r["p"]: r["n"] for r in sel.where("feat <> '_bias'")
          .groupBy("p").count().withColumnRenamed("count", "n").collect()}
    assert ns, "selection produced no models"
    for p, n in ns.items():
        assert n <= 10
        assert nf[p] > 10  # selection actually triggered


def test_learned_type_predictor_restores_dropped_types(spark):
    """M6 with the LEARNED per-type predictor: drop a fraction of type
    assertions (inject_type_errors), rank with SDValidate (typeless
    objects score 0.0 — the reference's pad-with-thing analog), gate the
    flips on the per-type LR prediction. Every accepted flip must restore
    a genuinely dropped (entity, type) assertion at gain=1.5."""
    import __spark_entry__ as entry
    from kgspark import correct
    from tests.conftest import SF_SMALL

    g = pipeline.build_graph(spark, SF_SMALL)
    res = entry._q_type_corrections_learned(spark, SF_SMALL).collect()
    assert len(res) > 0
    tyx = correct.inject_type_errors(g.types)
    dropped = {(r["e"], r["t"]) for r in
               g.types.join(tyx, ["e", "t"], "left_anti").collect()}
    assert all((r["o"], r["t_new"]) in dropped for r in res)


def test_pra_negatives_partition_invariance(spark, graph, idx):
    """The grouped-ordinal PRA ranking must be independent of input
    partitioning (range boundaries come from sampling, but the rank is a
    pure function of the total order)."""
    a = patybred.generate_negatives_pra(graph.triples.repartition(1), idx)
    b = patybred.generate_negatives_pra(graph.triples.repartition(16), idx)
    sa = {(r["s"], r["p"], r["o"]) for r in a.collect()}
    sb = {(r["s"], r["p"], r["o"]) for r in b.collect()}
    assert sa == sb and sa


def test_iforest_partition_invariance(spark, graph):
    """The isolation-forest sample (hash-ordered grouped ordinal) and
    therefore every adjusted score must not depend on partitioning."""
    from kgspark import evalops, scoring

    sdv = scoring.sdvalidate_scores(graph.triples, graph.types) \
        .withColumn("score", F.round("score", 6))
    a = evalops.iforest_outlier(sdv.repartition(1))
    b = evalops.iforest_outlier(sdv.repartition(16))
    ka = {(r["s"], r["p"], r["o"]): r["adj_score"] for r in a.collect()}
    kb = {(r["s"], r["p"], r["o"]): r["adj_score"] for r in b.collect()}
    assert ka == kb and ka


def test_domran_prune_fires_at_candidate_level(spark, graph):
    """P6: on the type-clean fixture the SURVIVING paths are identical
    with and without the prune (incompatible compositions are empty and
    die at min_sup), but the prune removes candidates BEFORE the join —
    its actual job (reference patybred.py:73-95)."""
    from kgspark import hierarchy

    R = graph.relations.count()
    dom, ran = hierarchy.domain_range_ids(graph.relations)
    idx_all = graph.paths
    idx_pruned = patybred.enumerate_paths(graph.triples, R,
                                          domains=dom, ranges=ran)
    assert idx_pruned.supports == idx_all.supports

    syms = patybred.symmetric_relations(graph.triples)
    relevant = [p for p in range(1, 2 * R + 1)
                if not (p > R and (p - R) in syms)]
    singles = [(p,) for p in relevant]
    dmap = {p: None for p in range(1, 2 * R + 1)}
    rmap = dict(dmap)
    for p in range(1, R + 1):
        dmap[p], rmap[p] = dom.get(p), ran.get(p)
        dmap[p + R], rmap[p + R] = ran.get(p), dom.get(p)

    def compat(last, r2):
        a, b = rmap[last], dmap[r2]
        return a is None or b is None or a == b

    c_all = patybred._level_candidates(singles, relevant, syms, R)
    c_pruned = patybred._level_candidates(singles, relevant, syms, R, compat)
    assert 0 < len(c_pruned) < len(c_all)


def test_relevance_table_parity(spark, duck, graph, raw_cte):
    """J2 as a table: all five modes match the set-arithmetic SQL oracle."""
    got = patybred.relevance_table(graph.triples, graph.relations.count())
    assert_df_equal(got, duck.execute(patybred.relevance_sql(raw_cte)),
                    atol=1.5e-6)
    modes = {r["mode"] for r in got.select("mode").distinct().collect()}
    assert modes == set(patybred.RELEVANCE_MODES)


def test_relevance_covers_sub_min_sup_relations(spark):
    """A relation below MIN_SUP still participates as a composition
    PARTNER with computable relevance — the reference populates
    path_rowscols/path_matrices for every singleton regardless of
    min-sup (patybred.py:206-219); only composition SEEDS are gated.
    Regression: this used to KeyError in path_relevances (and the SQL
    oracle silently dropped the candidate instead)."""
    t = spark.createDataFrame(
        [(1, 1, 2), (3, 1, 4), (5, 1, 6), (7, 1, 8), (9, 1, 10),
         (11, 1, 2), (2, 2, 20), (4, 2, 21)],
        "s long, p int, o long")
    rt = patybred.relevance_table(t, 2)
    rows = {(r["p1"], r["p2"], r["mode"]): r["relevance"]
            for r in rt.collect()}
    # relation 2 has support 2 < MIN_SUP=5 yet composes after seed 1:
    # inter = |cols(1) ∩ rows(2)| = |{2,4,6,8,10} ∩ {2,4}| = 2,
    # mult = sup(1)·sup(2) = 6·2
    assert rows[(1, 2, "inter")] == 2.0
    assert rows[(1, 2, "mult")] == 12.0
    # the beam path runs the same relevance lookup — must not raise
    idx = patybred.enumerate_paths(t, 2, max_paths_per_level=2)
    assert idx.R == 2


def test_relevance_skips_unused_relation_ids(spark):
    """A relation id < R with ZERO triples is not a composition
    candidate: the reference never builds a matrix for it and the SQL
    oracle enumerates DISTINCT p FROM aug, so the Spark side must not
    emit relevance-0 rows for it either (ADVICE r05: the two sides
    used to disagree whenever an id in 1..R was unused)."""
    # R declared = 3, but relation 3 never occurs
    t = spark.createDataFrame(
        [(1, 1, 2), (3, 1, 4), (5, 1, 6), (7, 1, 8), (9, 1, 10),
         (11, 1, 2), (2, 2, 20), (4, 2, 21)],
        "s long, p int, o long")
    rt = patybred.relevance_table(t, 3)
    used = {r["p1"] for r in rt.collect()} | \
           {r["p2"] for r in rt.collect()}
    # ids 3 and its inverse 6 (R+3) must appear nowhere
    assert 3 not in used and 6 not in used
    # the present-relation candidates are unchanged by the wider R
    rows = {(r["p1"], r["p2"], r["mode"]): r["relevance"]
            for r in rt.collect()}
    assert rows[(1, 2, "inter")] == 2.0


def test_lang_equivalence_merge(spark, graph):
    """U1: all lang:* memberships collapse onto the min-id lang type;
    non-lang memberships are untouched."""
    from kgspark import hierarchy

    eq = hierarchy.lang_equivalences(graph.type_names)
    merged = hierarchy.merge_equivalent_types(graph.types, eq)
    langs = {r["t"] for r in graph.type_names
             .where(F.col("name").startswith("lang:")).collect()}
    tgt = min(langs)
    left = {r["t"] for r in merged.select("t").distinct().collect()}
    assert left & langs == {tgt}
    before = graph.types.where(~F.col("t").isin(list(langs))).count()
    after = merged.where(~F.col("t").isin(list(langs))).count()
    assert before == after
