"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All KG queries operate on the deterministic ``repo_files`` table
synthesized from the ``documents`` parquet (kgspark.synth) — the
north-rule input shape — so every stage has an exact DuckDB oracle.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgspark import (constraints, correct, dedup, embeddings, encode,
                     errorsgen, evalops, extract, hierarchy, link, multimodal,
                     patybred, pipeline, scoring, simsearch, synth, textstats,
                     typesys, util)

P_ERROR = 0.05

_RAW_CTE_DUCK = None


def _raw_cte() -> str:
    global _RAW_CTE_DUCK
    if _RAW_CTE_DUCK is None:
        _RAW_CTE_DUCK = extract.triples_raw_sql(synth.repo_files_sql("duckdb"))
    return _RAW_CTE_DUCK


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: end-to-end extract → encode → corrupt → score → rank."""
    return pipeline.flagship_ranked(spark, "/root/testdata/sf0.001", P_ERROR)


# ---------------------------------------------------------------- queries


def _q_repo_files(spark: SparkSession, sf: str) -> DataFrame:
    return synth.repo_files(spark, sf)


def _q_repo_files_sha(spark: SparkSession, sf: str) -> DataFrame:
    rf = synth.repo_files(spark, sf)
    return rf.select("repo", "path", F.sha2("content", 256).alias("sha"))


def _q_triples(spark: SparkSession, sf: str) -> DataFrame:
    return extract.extract_triples(synth.repo_files(spark, sf))


# S2 demo deny-list: prefixes that actually drop triples on this corpus
# (the default stdlib-ish list matches nothing the fixture extracts).
DENY = ("module:mod_9", "sym:Cls1")


def _q_triples_filtered(spark: SparkSession, sf: str) -> DataFrame:
    return extract.filter_entities(_q_triples(spark, sf), DENY)


def _q_entities(spark: SparkSession, sf: str) -> DataFrame:
    return pipeline.build_graph(spark, sf).entities


def _q_relations(spark: SparkSession, sf: str) -> DataFrame:
    return pipeline.build_graph(spark, sf).relations


def _q_lsh_pairs(spark: SparkSession, sf: str) -> DataFrame:
    tr = _q_triples(spark, sf)
    return link.lsh_candidate_pairs(link.normalize_mentions(tr))


def _q_linked_fuzzy(spark: SparkSession, sf: str) -> DataFrame:
    return link.verified_pairs(_q_triples(spark, sf), max_lev=1)


def _q_canonical_map(spark: SparkSession, sf: str) -> DataFrame:
    return link.canonical_map(_q_triples(spark, sf))


def _q_canonical_map_fuzzy(spark: SparkSession, sf: str) -> DataFrame:
    return link.canonical_map(_q_triples(spark, sf), max_lev=1)


def _q_triples_canonical(spark: SparkSession, sf: str) -> DataFrame:
    return link.canonicalize_triples(_q_triples(spark, sf))


def _q_encoded(spark: SparkSession, sf: str) -> DataFrame:
    return pipeline.build_graph(spark, sf).triples


def _q_types(spark: SparkSession, sf: str) -> DataFrame:
    return pipeline.build_graph(spark, sf).types


def _q_type_names(spark: SparkSession, sf: str) -> DataFrame:
    return pipeline.build_graph(spark, sf).type_names


def _q_sdvalidate(spark: SparkSession, sf: str) -> DataFrame:
    g = pipeline.build_graph(spark, sf)
    return scoring.sdvalidate_scores(g.triples, g.types) \
        .withColumn("score", F.round("score", 6))


def _q_rpf(spark: SparkSession, sf: str) -> DataFrame:
    g = pipeline.build_graph(spark, sf)
    return scoring.rpf(g.triples).withColumn("rpf", F.round("rpf", 6))


def _q_domran(spark: SparkSession, sf: str) -> DataFrame:
    g = pipeline.build_graph(spark, sf)
    return scoring.domran_scores(g.triples, g.types) \
        .withColumn("score", F.round("score", 6))


def _q_errors_k1(spark: SparkSession, sf: str) -> DataFrame:
    g = pipeline.build_graph(spark, sf)
    return errorsgen.inject_errors_kind1(g.triples, g.n_entities, P_ERROR)


def _q_errors_k2(spark: SparkSession, sf: str) -> DataFrame:
    g = pipeline.build_graph(spark, sf)
    return errorsgen.inject_errors_kind2(g.triples, g.types, P_ERROR)


def _q_relation_support(spark: SparkSession, sf: str) -> DataFrame:
    g = pipeline.build_graph(spark, sf)
    return g.triples.groupBy("p").agg(F.count("*").alias("support"))


def _q_paths_depth2(spark: SparkSession, sf: str) -> DataFrame:
    """Depth-2 path supports; tiny metadata assembled from the distributed
    BFS (pair tables are Spark-side; supports are their counts)."""
    g = pipeline.build_graph(spark, sf)
    idx = g.paths
    rows = [(p[0], p[1], s) for p, s in sorted(idx.supports.items())
            if len(p) == 2]
    df = spark.createDataFrame(rows or [(0, 0, 0)], "p1 int, p2 int, support bigint")
    return df if rows else df.limit(0)


# W5 beam width for the driver check — small enough to actually prune
# the depth-2 candidate set on the 4-relation corpus.
BEAM_N = 4


def _q_paths_depth2_beam(spark: SparkSession, sf: str) -> DataFrame:
    """Depth-2 path supports under the top-N relevance beam (W5)."""
    g = pipeline.build_graph(spark, sf)
    idx = patybred.enumerate_paths(
        g.triples, g.n_relations,
        max_paths_per_level=BEAM_N, path_selection_mode="inter")
    rows = [(p[0], p[1], s) for p, s in sorted(idx.supports.items())
            if len(p) == 2]
    df = spark.createDataFrame(rows or [(0, 0, 0)],
                               "p1 int, p2 int, support bigint")
    return df if rows else df.limit(0)


def _q_patybred_negatives(spark: SparkSession, sf: str) -> DataFrame:
    g = pipeline.build_graph(spark, sf)
    pos = patybred.sample_positives(g.triples)
    return patybred.generate_negatives(pos, g.triples, g.n_entities)


def _q_patybred_negatives_nbh(spark: SparkSession, sf: str) -> DataFrame:
    g = pipeline.build_graph(spark, sf)
    pos = patybred.sample_positives(g.triples)
    return patybred.generate_negatives_neighborhood(
        pos, g.triples, g.n_entities)


def _q_patybred_negatives_pra(spark: SparkSession, sf: str) -> DataFrame:
    g = pipeline.build_graph(spark, sf)
    idx = g.paths
    return patybred.generate_negatives_pra(g.triples, idx)


def _q_patybred_features(spark: SparkSession, sf: str) -> DataFrame:
    g = pipeline.build_graph(spark, sf)
    idx = g.paths
    return patybred.features_long(g.triples, idx, g.types)


def _q_patybred_features_iorels(spark: SparkSession, sf: str) -> DataFrame:
    g = pipeline.build_graph(spark, sf)
    idx = g.paths
    return patybred.features_long(g.triples, idx, g.types, iorels=True)


def _q_patybred_ranked(spark: SparkSession, sf: str) -> DataFrame:
    return patybred.patybred_ranked(spark, sf, P_ERROR)


def _q_patybred_metrics(spark: SparkSession, sf: str) -> DataFrame:
    return patybred.patybred_metrics(spark, sf, P_ERROR)


def _q_patybred_dt_ranked(spark: SparkSession, sf: str) -> DataFrame:
    return patybred.patybred_dt_ranked(spark, sf, P_ERROR)


# M2 feature selection: iorels=True multiplies the feature space ~4× per
# path, pushing every relation past FS_MAX so the chi2 top-k actually
# triggers (reference /root/reference/patybred.py:382-400).
FS_MAX = 30


def _q_patybred_ranked_fs(spark: SparkSession, sf: str) -> DataFrame:
    return patybred.pb_bundle(spark, sf, P_ERROR, clf="lgr",
                              iorels=True, max_feats=FS_MAX).ranked


def _q_flagship(spark: SparkSession, sf: str) -> DataFrame:
    return pipeline.flagship_ranked(spark, sf, P_ERROR)


def _q_metrics(spark: SparkSession, sf: str) -> DataFrame:
    return pipeline.flagship_metrics(spark, sf, P_ERROR)


def _q_flagship_avg(spark: SparkSession, sf: str) -> DataFrame:
    return pipeline.flagship_ranked_avg(spark, sf, P_ERROR)


# Correction-gate parameterization for the BASE-corpus demo checks: the
# synthetic corpus's kind-1 errors are random-entity corruptions (not typo
# confusions), so the reference's gain=1.5 gate accepts nothing here;
# gain=1.0 exercises the full accept path (re-score, score>=old,
# dist/candidate tie-breaks) with a non-empty, value-checked result. The
# REFERENCE gate (0.75 / 1.5 / multi-type guard) is exercised
# non-trivially by kg_corrections_ref_gate on the rich corpus below.
CORR_GAIN = 1.0
CORR_MIN = 0.01


def _q_corrections(spark, sf):
    g = pipeline.build_graph(spark, sf)
    ranked = pipeline.flagship_ranked(spark, sf, P_ERROR)
    return correct.correct_errors(
        ranked, ranked.select("s", "p", "o"), g.types, g.entities,
        min_score=CORR_MIN, min_score_gain=CORR_GAIN,
        n_entities=g.n_entities)


def _q_corrections_excl(spark, sf):
    """The reference's full correction FLOW: type corrections first, then
    entity replacement only for suspects the type pass did not repair
    (correct_errors.py:55-75 exclusivity)."""
    g = pipeline.build_graph(spark, sf)
    ranked = pipeline.flagship_ranked(spark, sf, P_ERROR)
    facts = ranked.select("s", "p", "o")
    tc = correct.type_corrections(
        ranked, facts, g.types, min_score=CORR_MIN, min_score_gain=CORR_GAIN)
    return correct.correct_errors(
        ranked, facts, g.types, g.entities,
        min_score=CORR_MIN, min_score_gain=CORR_GAIN, exclude=tc,
        n_entities=g.n_entities)


def _q_errors_k3(spark: SparkSession, sf: str) -> DataFrame:
    g = pipeline.build_graph(spark, sf)
    return errorsgen.inject_errors_kind3(g.triples, g.entities, P_ERROR,
                                         n_entities=g.n_entities)


def _q_corrections_pb(spark: SparkSession, sf: str) -> DataFrame:
    """Correction loop with the PaTyBRED scorer on kind-3 typo-confusion
    errors — the entity-sensitive configuration the reference's repair
    targets. On this synthetic corpus the per-relation PB scores are
    near-constant (type features dominate the 4-relation vocabulary), so
    the demonstrative equal-score gate is used; the funnel, re-scoring
    and tie-break picks are value-checked end-to-end."""
    g = pipeline.build_graph(spark, sf)
    b = patybred.pb_bundle(spark, sf, P_ERROR, clf="lgr", kind=3)
    return correct.correct_errors_patybred(
        b.ranked, b.facts, g.types, g.entities, b.idx, b.models,
        min_score=CORR_MIN, min_score_gain=CORR_GAIN,
        n_entities=g.n_entities)


# Reference acceptance gate (correct_errors.py:17-18): exercised
# non-trivially on the RICH corpus (6-relation vocabulary — see
# kgspark/synth.py _CONTENT_RICH) with kind-3 typo-confusion errors that
# REPLACE the original fact, and the reference's multi-typed-object
# replacement guard enforced.
REF_MIN_SCORE = 0.75
REF_GAIN = 1.5
RICH_R = 6

_RICH_RAW_CTE = None


def _rich_raw() -> str:
    global _RICH_RAW_CTE
    if _RICH_RAW_CTE is None:
        _RICH_RAW_CTE = extract.triples_raw_sql(
            synth.repo_files_rich_sql("duckdb"))
    return _RICH_RAW_CTE


def _q_stream_triples(spark: SparkSession, sf: str) -> DataFrame:
    """Structured-Streaming extraction drained with availableNow into a
    parquet triple log, read back and deduped — must equal the BATCH
    extraction exactly (same oracle SQL as kg_triples_raw)."""
    import os
    import tempfile

    from kgspark import streaming

    tmp = tempfile.mkdtemp(prefix="kgstream_")
    src, out, ck = (os.path.join(tmp, d) for d in ("src", "out", "ck"))
    synth.repo_files(spark, sf).write.parquet(src)
    streaming.run_extraction_stream(spark, src, out, ck)
    return spark.read.parquet(out).select("subj", "pred", "obj").distinct()


def _q_stream_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Stateful streaming exact-dedup (applyInPandasWithState): the
    corpus arrives as micro-batch 1, duplicate copies of every 25th doc
    (shifted ids) as micro-batch 2 — the per-sha state drops them, so
    the first-seen log equals min-doc_id-per-content (exact oracle)."""
    import os
    import shutil
    import tempfile
    import time

    from kgspark import streaming

    tmp = tempfile.mkdtemp(prefix="kgdedupstream_")
    src, out, ck = (os.path.join(tmp, d) for d in ("src", "out", "ck"))
    os.makedirs(src)
    docs = _docs(spark, sf)
    copies = docs.where(F.col("doc_id") % 25 == 0) \
        .withColumn("doc_id", F.col("doc_id") + 1_000_000)

    def _one_file(df, dest):
        stage = dest + ".stage"
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        part = next(f for f in sorted(os.listdir(stage))
                    if f.endswith(".parquet"))
        shutil.move(os.path.join(stage, part), dest)
        shutil.rmtree(stage)

    now = time.time()
    _one_file(docs, os.path.join(src, "batch1.parquet"))
    _one_file(copies, os.path.join(src, "batch2.parquet"))
    # mtime order fixes micro-batch order (FileStreamSource oldest-first)
    os.utime(os.path.join(src, "batch1.parquet"), (now - 120, now - 120))
    os.utime(os.path.join(src, "batch2.parquet"), (now, now))
    streaming.run_dedup_stream(spark, src, out, ck)
    return spark.read.parquet(out).select("sha", "doc_id")


def _q_stream_dedup_min(spark: SparkSession, sf: str) -> DataFrame:
    """Global-min streaming dedup (update mode): the corpus arrives
    SHIFTED (+1e6 ids) as micro-batch 1, then the original small-id
    copies of every 25th doc as micro-batch 2 — first-batch-wins would
    keep the 1e6 representatives, but the running-min state re-emits on
    improvement, so the compacted log equals the true global
    min-doc_id-per-content (exact oracle; distinguishes the two modes
    by construction)."""
    import os
    import shutil
    import tempfile
    import time

    from kgspark import streaming

    tmp = tempfile.mkdtemp(prefix="kgdedupstreammin_")
    src, out, ck = (os.path.join(tmp, d) for d in ("src", "out", "ck"))
    os.makedirs(src)
    docs = _docs(spark, sf)
    shifted = docs.withColumn("doc_id", F.col("doc_id") + 1_000_000)
    originals = docs.where(F.col("doc_id") % 25 == 0)

    def _one_file(df, dest):
        stage = dest + ".stage"
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        part = next(f for f in sorted(os.listdir(stage))
                    if f.endswith(".parquet"))
        shutil.move(os.path.join(stage, part), dest)
        shutil.rmtree(stage)

    now = time.time()
    _one_file(shifted, os.path.join(src, "batch1.parquet"))
    _one_file(originals, os.path.join(src, "batch2.parquet"))
    os.utime(os.path.join(src, "batch1.parquet"), (now - 120, now - 120))
    os.utime(os.path.join(src, "batch2.parquet"), (now, now))
    streaming.run_dedup_stream_min(spark, src, out, ck)
    return (spark.read.parquet(out)
            .groupBy("sha").agg(F.min("doc_id").alias("doc_id")))


def _q_rich_triples(spark: SparkSession, sf: str) -> DataFrame:
    return extract.extract_triples(synth.repo_files_rich(spark, sf))


def _q_rich_patybred_ranked(spark: SparkSession, sf: str) -> DataFrame:
    return patybred.pb_bundle(spark, sf, P_ERROR, clf="lgr", kind=3,
                              variant="rich", replace=True).ranked


def _q_corrections_ref_gate(spark: SparkSession, sf: str) -> DataFrame:
    g = pipeline.build_graph(spark, sf, variant="rich")
    b = patybred.pb_bundle(spark, sf, P_ERROR, clf="lgr", kind=3,
                           variant="rich", replace=True)
    return correct.correct_errors_patybred(
        b.ranked, b.facts, g.types, g.entities, b.idx, b.models,
        min_score=REF_MIN_SCORE, min_score_gain=REF_GAIN,
        require_multitype=True, n_entities=g.n_entities)


def _q_type_corrections(spark, sf):
    """M6 with the LEARNED per-type predictor (fit_type_models) gating
    which flips are tested — the reference's tp.predict mechanism."""
    g = pipeline.build_graph(spark, sf)
    ranked = pipeline.flagship_ranked(spark, sf, P_ERROR)
    facts = ranked.select("s", "p", "o")
    tm = correct.fit_type_models(facts, g.types)
    return correct.type_corrections(
        ranked, facts, g.types,
        min_score=CORR_MIN, min_score_gain=CORR_GAIN, type_models=tm)


def _q_type_corrections_learned(spark, sf):
    """M6 in the type-INCOMPLETENESS regime: clean facts, a fraction of
    type assertions deterministically dropped; the learned per-type
    predictor detects the missing types from incident-relation features
    and the gate (gain=1.5) accepts the restoring flips."""
    from kgspark import rank, scoring

    g = pipeline.build_graph(spark, sf)
    tyx = util.materialize(correct.inject_type_errors(g.types))
    facts = g.triples
    scores = util.materialize(
        scoring.sdvalidate_scores(facts, tyx)
        .withColumn("score", F.round("score", 6)))
    ranked = rank.rank_facts(scores)
    tm = correct.fit_type_models(facts, tyx)
    return correct.type_corrections(
        ranked, facts, tyx, min_score=CORR_MIN, min_score_gain=REF_GAIN,
        type_models=tm)


def _q_corrected_triples(spark, sf):
    g = pipeline.build_graph(spark, sf)
    ranked = pipeline.flagship_ranked(spark, sf, P_ERROR)
    facts = ranked.select("s", "p", "o")
    corr = correct.correct_errors(ranked, facts, g.types, g.entities,
                                  min_score=CORR_MIN,
                                  min_score_gain=CORR_GAIN,
                                  n_entities=g.n_entities)
    return correct.apply_corrections(facts, corr)


def _q_types_closure(spark, sf):
    g = pipeline.build_graph(spark, sf)
    ta = typesys.type_assertions(g.entities, g.triples, g.relations)
    return hierarchy.types_closure(ta, g.type_names)


def _q_domran_materialize(spark, sf):
    return hierarchy.materialize_domains_ranges(
        pipeline.build_graph(spark, sf).triples_str)


def _q_omnipresent(spark, sf):
    g = pipeline.build_graph(spark, sf)
    return hierarchy.omnipresent_types(g.types, g.n_entities)


def _q_zscore(spark, sf):
    g = pipeline.build_graph(spark, sf)
    sdv = scoring.sdvalidate_scores(g.triples, g.types) \
        .withColumn("score", F.round("score", 6))
    return evalops.zscore_outlier(sdv)


def _q_mad_outlier(spark, sf):
    g = pipeline.build_graph(spark, sf)
    sdv = scoring.sdvalidate_scores(g.triples, g.types) \
        .withColumn("score", F.round("score", 6))
    return evalops.mad_outlier(sdv)


def _q_iqr_outlier(spark, sf):
    g = pipeline.build_graph(spark, sf)
    sdv = scoring.sdvalidate_scores(g.triples, g.types) \
        .withColumn("score", F.round("score", 6))
    return evalops.iqr_outlier(sdv)


def _q_iforest(spark, sf):
    g = pipeline.build_graph(spark, sf)
    sdv = scoring.sdvalidate_scores(g.triples, g.types) \
        .withColumn("score", F.round("score", 6))
    return evalops.iforest_outlier(sdv)


def _q_linkpred(spark, sf):
    g = pipeline.build_graph(spark, sf)
    return evalops.link_prediction_eval(g.triples, g.types, g.entities)


def _q_word_freq(spark, sf):
    return evalops.word_freq(pipeline.build_graph(spark, sf).triples_str)


def _q_symspell(spark, sf):
    return link.symspell_pairs(pipeline.build_graph(spark, sf).triples_raw)


def _q_dl_pairs(spark, sf):
    return link.dl_pairs(pipeline.build_graph(spark, sf).triples_raw)


def _docs(spark: SparkSession, sf: str) -> DataFrame:
    return spark.read.parquet(f"{sf}/documents.parquet")


def _emb(spark: SparkSession, sf: str) -> DataFrame:
    return spark.read.parquet(f"{sf}/embeddings.parquet")


def _q_dedup_exact(spark, sf):
    return dedup.dedup_exact(_docs(spark, sf))


def _q_dedup_minhash(spark, sf):
    return dedup.dedup_minhash(_docs(spark, sf), 0.4)


def _q_simhash(spark, sf):
    return dedup.simhash(_docs(spark, sf))


def _q_simhash_pairs(spark, sf):
    return dedup.simhash_pairs(_docs(spark, sf), 6)


def _q_ann_brute(spark, sf):
    return simsearch.ann_bruteforce(_emb(spark, sf))


def _q_ann_lsh(spark, sf):
    return simsearch.ann_lsh(_emb(spark, sf))


def _q_emb_neardup(spark, sf):
    return simsearch.embedding_near_dup(_emb(spark, sf), 0.35)


def _q_ann_ivf(spark, sf):
    """IVF-flat ANN: hash-picked seed centroids (auto √N lists), nprobe
    probing, exact re-rank — the second scale path beside LSH."""
    return simsearch.ann_ivf(_emb(spark, sf))


def _q_ccorr(spark, sf):
    """F8: circular correlation (HolE composition) over the brute-force
    top-k neighbor pairs."""
    return simsearch.ccorr_topk(_emb(spark, sf))


def _q_hole_scores(spark: SparkSession, sf: str) -> DataFrame:
    """M9 scoring surface: HolE triple scores sum(R[p]·ccorr(E[s],E[o]))
    over deterministic hash-derived embeddings — zero-shuffle projection."""
    return embeddings.hole_scores(pipeline.build_graph(spark, sf).triples)


def _q_shacl_rules(spark: SparkSession, sf: str) -> DataFrame:
    """M8 as a table: suspect DT leaves compiled to SPARQL FILTER
    clauses (reference shacl-sparql.py:10-160) over the same noisy-graph
    DT fit the kg_patybred_dt_ranked check uses."""
    g = pipeline.build_graph(spark, sf)
    b = patybred.pb_bundle(spark, sf, P_ERROR, clf="dt")
    return constraints.shacl_rules(b.models, g.relations, g.type_names)


def _q_rescal_scores(spark: SparkSession, sf: str) -> DataFrame:
    """M9 scoring surface #3: RESCAL bilinear scores e_s'·W_p·e_o over
    deterministic hash-derived parameters — zero-shuffle projection."""
    return embeddings.rescal_scores(pipeline.build_graph(spark, sf).triples)


def _q_proje_scores(spark: SparkSession, sf: str) -> DataFrame:
    """M9 scoring surface #4: ProjE 'simple' combination scores —
    completes the reference's 4 embedding-model families."""
    return embeddings.proje_scores(pipeline.build_graph(spark, sf).triples)


def _q_transe_scores(spark: SparkSession, sf: str) -> DataFrame:
    """M9 TRAINING: distributed DataFrame-SGD TransE fit (margin ranking,
    content-keyed corrupt-object negatives, order-deterministic gradient
    folds) followed by −‖E[s]+R[p]−E[o]‖² scoring; the oracle re-trains
    the bit-identical numpy replica Spark-free."""
    g = pipeline.build_graph(spark, sf)
    E, R = embeddings.fit_transe(g.triples, g.n_entities)
    return embeddings.transe_scores(g.triples, E, R)


def _q_hole_trained_scores(spark: SparkSession, sf: str) -> DataFrame:
    """M9 HolE TRAINING: distributed DataFrame-SGD margin-ranking fit
    over the holographic composition (ccorr/cconv gradients, same
    deterministic-fold machinery as TransE) then trained-parameter
    scoring; the oracle re-trains the bit-identical numpy replica."""
    g = pipeline.build_graph(spark, sf)
    E, R = embeddings.fit_hole(g.triples, g.n_entities)
    return embeddings.hole_trained_scores(g.triples, E, R)


def _q_rescal_trained_scores(spark: SparkSession, sf: str) -> DataFrame:
    """M9 RESCAL TRAINING: distributed DataFrame-SGD margin-ranking fit
    of the bilinear model (closed-form outer-product gradients — no
    TF/skge needed; shared _apply_grads machinery with the relation
    side d² wide) then eₛᵀ·W_p·e_o scoring with the trained tables;
    the oracle re-trains the bit-identical numpy replica."""
    g = pipeline.build_graph(spark, sf)
    E, W = embeddings.fit_rescal(g.triples, g.n_entities)
    return embeddings.rescal_trained_scores(g.triples, E, W)


def _q_token_stats(spark, sf):
    return textstats.token_stats(_docs(spark, sf))


def _q_quality(spark, sf):
    return textstats.quality_scores(_docs(spark, sf))


def _q_langid(spark, sf):
    return textstats.lang_id(_docs(spark, sf))


def _q_fingerprints(spark, sf):
    return textstats.fingerprints(_docs(spark, sf))


def _q_media_meta(spark, sf):
    return multimodal.media_meta(multimodal.media_table(_docs(spark, sf)))


def _q_media_features(spark, sf):
    return multimodal.extract_features_exploded(
        multimodal.media_table(_docs(spark, sf)))


def _q_paths_pruned(spark: SparkSession, sf: str) -> DataFrame:
    """P6: depth-2 path supports under the domain/range-compatibility
    prune (reference patybred.py:73-95) — incompatible compositions
    never become candidates."""
    g = pipeline.build_graph(spark, sf)
    dom, ran = hierarchy.domain_range_ids(g.relations)
    idx = patybred.enumerate_paths(g.triples, g.n_relations,
                                   domains=dom, ranges=ran)
    rows = [(p[0], p[1], s) for p, s in sorted(idx.supports.items())
            if len(p) == 2]
    df = spark.createDataFrame(rows or [(0, 0, 0)],
                               "p1 int, p2 int, support bigint")
    return df if rows else df.limit(0)


def _q_path_relevance(spark: SparkSession, sf: str) -> DataFrame:
    """J2: endpoint-overlap relevance of every depth-2 composition
    candidate under all five reference modes (patybred.py:97-138)."""
    g = pipeline.build_graph(spark, sf)
    return patybred.relevance_table(g.triples, g.n_relations)


def _q_types_merged(spark: SparkSession, sf: str) -> DataFrame:
    """U1: class-equivalence merge — every lang:* type collapses into
    the min-id lang type (load_kb.py:191-196 analog)."""
    g = pipeline.build_graph(spark, sf)
    eq = hierarchy.lang_equivalences(g.type_names)
    return hierarchy.merge_equivalent_types(g.types, eq)


# Shuffle width for fixture-scale (sf0.001 / sf0.01) driver runs: the
# default 2x-cores width multiplies with per-path unions into
# thousand-task stages of pure scheduler overhead at a few-thousand-row
# scale. Every operator is partition-count invariant (content-keyed
# hashing, two-phase rank/ordinal helpers — tests/test_properties.py),
# so clamping only cuts latency.
FIXTURE_PARTS = "8"

# Per-session pre-clamp shuffle width, captured on first wrapper call so
# non-fixture work on the same session gets the session default back
# (shuffle width binds at EXECUTION time, so a save/restore around the
# query-builder call would undo the clamp before the driver collects —
# instead every call sets the width explicitly: clamp for fixtures,
# captured default otherwise). Keyed by applicationId, which is unique
# per SparkContext lifetime — id(spark) could be reused by a new session
# after the old one is garbage-collected and would then inherit a stale
# captured default.
_SESSION_PARTS: dict[str, str] = {}


def _fixture_tuned(fn):
    import functools

    @functools.wraps(fn)
    def wrapped(spark: SparkSession, sf: str) -> DataFrame:
        default = _SESSION_PARTS.setdefault(
            spark.sparkContext.applicationId,
            spark.conf.get("spark.sql.shuffle.partitions"))
        spark.conf.set("spark.sql.shuffle.partitions",
                       FIXTURE_PARTS if "sf0.0" in sf else default)
        return fn(spark, sf)
    return wrapped


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # ORDERING CONTRACT: the external driver checks queries in dict order
    # and records ~50 rows per pass, so ordering is a DETERMINISTIC
    # ROTATION by driver-evidence age — front = (queries whose code or
    # oracle changed this round) + (least-recently driver-evidenced
    # block), then the next-oldest block, newest-evidenced last. Each
    # round the oldest block rotates to the front; nothing is parked
    # permanently. Evidence age as of r06:
    #   block A: new/changed in r06 (re-evidence required)
    #   block B: last driver-evidenced r04 (oldest — front this round:
    #            the block-C tail + block D of the r05 layout)
    #   block C: driver-evidenced r05 (newest — tail)
    q = {
        # -- block A: new in round 6 + semantics/oracle touched in round 6
        # (ann_ivf_topk gained a Lloyd refinement pass; kg_path_relevance
        # candidate enumeration tightened to relations present in aug)
        "kg_rescal_trained_scores": _q_rescal_trained_scores,
        "stream_dedup_docs_min": _q_stream_dedup_min,
        "ann_ivf_topk": _q_ann_ivf,
        "kg_path_relevance": _q_path_relevance,
        # -- block B: last driver-evidenced in r04 (rotated to front)
        "kg_eval_metrics": _q_metrics,
        "kg_corrections": _q_corrections,
        "kg_corrections_pb": _q_corrections_pb,
        "kg_type_corrections": _q_type_corrections,
        "kg_corrected_triples": _q_corrected_triples,
        "kg_types_closure": _q_types_closure,
        "kg_link_prediction_eval": _q_linkpred,
        "kg_triples_filtered": _q_triples_filtered,
        "kg_paths_depth2_beam": _q_paths_depth2_beam,
        "kg_iforest_outlier": _q_iforest,
        "text_token_stats": _q_token_stats,
        "text_quality": _q_quality,
        "text_langid": _q_langid,
        "text_fingerprints": _q_fingerprints,
        "mm_media_meta": _q_media_meta,
        "mm_media_features": _q_media_features,
        "ann_lsh_topk": _q_ann_lsh,
        "embedding_near_dup": _q_emb_neardup,
        "emb_ccorr_topk": _q_ccorr,
        "kg_hole_scores": _q_hole_scores,
        "kg_patybred_negatives_nbh": _q_patybred_negatives_nbh,
        "kg_stream_triples_raw": _q_stream_triples,
        "kg_paths_depth2_pruned": _q_paths_pruned,
        "kg_types_merged": _q_types_merged,
        "kg_rich_triples_raw": _q_rich_triples,
        "kg_type_corrections_learned": _q_type_corrections_learned,
        "kg_corrections_excl": _q_corrections_excl,
        "kg_patybred_ranked_fs": _q_patybred_ranked_fs,
        "kg_rich_patybred_ranked": _q_rich_patybred_ranked,
        "kg_corrections_ref_gate": _q_corrections_ref_gate,
        # -- block C: driver-evidenced r05 (newest evidence — tail;
        # rotates forward as its age becomes oldest)
        "kg_triples_raw": _q_triples,
        "kg_canonical_map": _q_canonical_map,
        "kg_triples_canonical": _q_triples_canonical,
        "kg_entities_dim": _q_entities,
        "kg_relations_dim": _q_relations,
        "kg_triples_encoded": _q_encoded,
        "kg_sdvalidate_scores": _q_sdvalidate,
        "kg_domran_scores": _q_domran,
        "kg_errors_kind1": _q_errors_k1,
        "kg_paths_depth2": _q_paths_depth2,
        "kg_patybred_negatives": _q_patybred_negatives,
        "kg_patybred_negatives_pra": _q_patybred_negatives_pra,
        "kg_patybred_features": _q_patybred_features,
        "kg_patybred_ranked": _q_patybred_ranked,
        "kg_patybred_metrics": _q_patybred_metrics,
        "kg_flagship_ranked": _q_flagship,
        "kg_types": _q_types,
        "kg_errors_kind2": _q_errors_k2,
        "kg_rpf": _q_rpf,
        "kg_errors_kind3": _q_errors_k3,
        "kg_relation_support": _q_relation_support,
        "kg_patybred_features_iorels": _q_patybred_features_iorels,
        "kg_patybred_dt_ranked": _q_patybred_dt_ranked,
        "kg_flagship_ranked_avg": _q_flagship_avg,
        "kg_repo_files": _q_repo_files,
        "kg_repo_files_sha256": _q_repo_files_sha,
        "kg_lsh_candidate_pairs": _q_lsh_pairs,
        "kg_linked_pairs_fuzzy": _q_linked_fuzzy,
        "kg_canonical_map_fuzzy": _q_canonical_map_fuzzy,
        "kg_type_names": _q_type_names,
        "kg_domran_materialize": _q_domran_materialize,
        "kg_omnipresent_types": _q_omnipresent,
        "kg_zscore_outlier": _q_zscore,
        "kg_mad_outlier": _q_mad_outlier,
        "kg_iqr_outlier": _q_iqr_outlier,
        "kg_word_freq": _q_word_freq,
        "kg_symspell_pairs": _q_symspell,
        "kg_dl_pairs": _q_dl_pairs,
        "dedup_exact": _q_dedup_exact,
        "dedup_minhash_lsh": _q_dedup_minhash,
        "dedup_simhash": _q_simhash,
        "dedup_simhash_pairs": _q_simhash_pairs,
        "ann_cosine_topk": _q_ann_brute,
        "kg_shacl_rules": _q_shacl_rules,
        "kg_rescal_scores": _q_rescal_scores,
        "kg_proje_scores": _q_proje_scores,
        "kg_hole_trained_scores": _q_hole_trained_scores,
        "kg_transe_scores": _q_transe_scores,
        "stream_dedup_docs": _q_stream_dedup,
    }
    return {k: _fixture_tuned(v) for k, v in q.items()}


def oracle_sql() -> dict[str, str]:
    from kgspark.dialect import materialize_ctes

    raw = _raw_cte()
    rf_sql = synth.repo_files_sql("duckdb")
    plain = {
        "kg_repo_files": rf_sql,
        "kg_repo_files_sha256": (
            f"SELECT repo, path, sha256(content) AS sha FROM ({rf_sql})"
        ),
        "kg_triples_raw": raw,
        "kg_lsh_candidate_pairs": link.lsh_pairs_sql(raw),
        "kg_linked_pairs_fuzzy": link.verified_pairs_sql(raw, max_lev=1),
        "kg_canonical_map": link.canonical_map_sql(raw),
        "kg_canonical_map_fuzzy": link.canonical_map_sql(raw, max_lev=1),
        "kg_triples_canonical": link.canonical_triples_sql(raw),
        "kg_entities_dim": (
            f"WITH {typesys.kg_ctes(raw)} SELECT id, name FROM ent"
        ),
        "kg_relations_dim": (
            f"WITH {typesys.kg_ctes(raw)} "
            "SELECT CAST(id AS BIGINT) AS id, name FROM rel"
        ),
        "kg_triples_encoded": (
            f"WITH {typesys.kg_ctes(raw)} SELECT s, p, o FROM enc"
        ),
        "kg_types": typesys.types_sql(raw),
        "kg_type_names": typesys.type_names_sql(raw),
        "kg_sdvalidate_scores": scoring.sdvalidate_sql(raw),
        "kg_rpf": scoring.rpf_sql(raw),
        "kg_domran_scores": scoring.domran_scores_sql(raw),
        "kg_errors_kind1": errorsgen.errors_kind1_sql(raw, P_ERROR),
        "kg_errors_kind2": errorsgen.errors_kind2_sql(raw, P_ERROR),
        "kg_errors_kind3": errorsgen.errors_kind3_sql(raw, P_ERROR),
        "kg_relation_support": patybred.relation_support_sql(raw),
        "kg_paths_depth2": patybred.paths_depth2_sql(raw),
        "kg_paths_depth2_pruned": patybred.paths_depth2_pruned_sql(raw),
        "kg_path_relevance": patybred.relevance_sql(raw),
        "kg_types_merged": hierarchy.types_merged_sql(raw),
        "kg_patybred_negatives": patybred.negatives_sql(raw),
        "kg_patybred_negatives_pra": patybred.negatives_pra_sql(raw),
        "kg_patybred_features": patybred.features_long_sql(raw),
        "kg_patybred_features_iorels": patybred.features_long_sql(
            raw, iorels=True),
        # end-to-end PaTyBRED oracles: training rows + features are pure
        # SQL over the noisy graph; the numpy fit runs Spark-free inside
        # the oracle builder and its weights/leaves are embedded as VALUES
        # (patybred.ranked_oracle_sql docstring) — exact value checks.
        "kg_patybred_ranked": patybred.ranked_oracle_sql(raw, P_ERROR),
        "kg_patybred_metrics": patybred.metrics_oracle_sql(raw, P_ERROR),
        "kg_patybred_dt_ranked": patybred.ranked_oracle_sql(
            raw, P_ERROR, clf="dt"),
        "kg_patybred_ranked_fs": patybred.ranked_oracle_sql(
            raw, P_ERROR, clf="lgr", iorels=True, max_feats=FS_MAX),
        "kg_flagship_ranked": pipeline.flagship_ranked_sql(raw, P_ERROR),
        "kg_flagship_ranked_avg": pipeline.flagship_ranked_avg_sql(
            raw, P_ERROR),
        "kg_eval_metrics": pipeline.flagship_metrics_sql(raw, P_ERROR),
        "kg_corrections": correct.corrections_sql(
            raw, P_ERROR, min_score=CORR_MIN, min_score_gain=CORR_GAIN),
        "kg_corrections_excl": correct.corrections_excl_sql(
            raw, P_ERROR, min_score=CORR_MIN, min_score_gain=CORR_GAIN),
        "kg_corrections_pb": correct.corrections_pb_sql(
            raw, P_ERROR, min_score=CORR_MIN, min_score_gain=CORR_GAIN),
        "kg_rich_triples_raw": _rich_raw(),
        "kg_rich_patybred_ranked": patybred.ranked_oracle_sql(
            _rich_raw(), P_ERROR, R=RICH_R, kind=3, replace=True),
        "kg_corrections_ref_gate": correct.corrections_pb_sql(
            _rich_raw(), P_ERROR, min_score=REF_MIN_SCORE,
            min_score_gain=REF_GAIN, R=RICH_R, replace=True,
            require_multitype=True),
        "kg_type_corrections": correct.type_corrections_sql(
            raw, P_ERROR, min_score=CORR_MIN, min_score_gain=CORR_GAIN,
            learned=True),
        "kg_type_corrections_learned": correct.type_corrections_learned_sql(
            raw, min_score=CORR_MIN, min_score_gain=REF_GAIN),
        "kg_corrected_triples": correct.corrected_triples_sql(
            raw, P_ERROR, min_score=CORR_MIN, min_score_gain=CORR_GAIN),
        "kg_types_closure": hierarchy.types_closure_sql(raw),
        "kg_domran_materialize": hierarchy.domran_materialize_sql(raw),
        "kg_omnipresent_types": hierarchy.omnipresent_types_sql(raw),
        "kg_zscore_outlier": evalops.zscore_outlier_sql(raw),
        "kg_mad_outlier": evalops.mad_outlier_sql(raw),
        "kg_iqr_outlier": evalops.iqr_outlier_sql(raw),
        "kg_iforest_outlier": evalops.iforest_outlier_sql(raw),
        "kg_stream_triples_raw": raw,
        # First-batch-wins contract (streaming.stream_dedup_docs): the
        # representative is the min doc_id in the FIRST batch carrying
        # the sha. Every sha here appears in batch 1 (batch 2 is a
        # subset with +1e6 ids), so that is min(doc_id) over documents
        # alone — robust to micro-batch grouping/ordering, unlike a
        # global min over both drops.
        "stream_dedup_docs": (
            "SELECT sha256(text) AS sha, min(doc_id) AS doc_id "
            "FROM documents GROUP BY text"
        ),
        # Global-min contract (streaming.stream_dedup_docs_min): the
        # compacted emission log equals min(doc_id) over ALL arrivals —
        # the shifted full corpus (+1e6) plus the later small-id
        # every-25th originals (which first-batch-wins would ignore).
        "stream_dedup_docs_min": (
            "SELECT sha256(text) AS sha, min(doc_id) AS doc_id FROM ("
            "  SELECT text, doc_id + 1000000 AS doc_id FROM documents"
            "  UNION ALL"
            "  SELECT text, doc_id FROM documents WHERE doc_id % 25 = 0"
            ") GROUP BY text"
        ),
        "kg_paths_depth2_beam": patybred.paths_depth2_beam_sql(raw, BEAM_N),
        "kg_triples_filtered": extract.filtered_triples_sql(
            synth.repo_files_sql("duckdb"), DENY),
        "kg_patybred_negatives_nbh": patybred.negatives_nbh_sql(raw),
        "kg_link_prediction_eval": evalops.link_prediction_eval_sql(raw),
        "kg_word_freq": evalops.word_freq_sql(raw),
        "kg_symspell_pairs": link.symspell_pairs_sql(raw),
        "kg_dl_pairs": link.dl_pairs_sql(raw),
        "dedup_exact": dedup.dedup_exact_sql(),
        "dedup_minhash_lsh": dedup.dedup_minhash_sql(0.4),
        "dedup_simhash": dedup.simhash_sql(),
        "dedup_simhash_pairs": dedup.simhash_pairs_sql(6),
        "ann_cosine_topk": simsearch.ann_bruteforce_sql(),
        "ann_lsh_topk": simsearch.ann_lsh_sql(),
        "ann_ivf_topk": simsearch.ann_ivf_sql(),
        "emb_ccorr_topk": simsearch.ccorr_topk_sql(),
        "kg_hole_scores": embeddings.hole_scores_sql(raw),
        "kg_rescal_scores": embeddings.rescal_scores_sql(raw),
        "kg_shacl_rules": constraints.shacl_rules_oracle_sql(raw, P_ERROR),
        "kg_proje_scores": embeddings.proje_scores_sql(raw),
        "kg_hole_trained_scores": embeddings.hole_trained_scores_oracle_sql(
            raw),
        "kg_rescal_trained_scores":
            embeddings.rescal_trained_scores_oracle_sql(raw),
        "kg_transe_scores": embeddings.transe_scores_oracle_sql(raw),
        "embedding_near_dup": simsearch.embedding_near_dup_sql(0.35),
        "text_token_stats": textstats.token_stats_sql(),
        "text_quality": textstats.quality_scores_sql(),
        "text_langid": textstats.lang_id_sql(),
        "text_fingerprints": textstats.fingerprints_sql(),
        "mm_media_meta": multimodal.media_meta_sql(),
        "mm_media_features": multimodal.media_features_sql(),
    }
    return {k: materialize_ctes(v) for k, v in plain.items()}
