"""Error CORRECTION loop (SURVEY §2 M7/P7; reference correct_errors.py).

Reference semantics (/root/reference/correct_errors.py:41-126):
take the top ``p`` fraction most-suspect facts from the ranked output;
for each, propose OBJECT replacements ("in DBpedia confusions normally
occur on the object", correct_errors.py:99) from the ASM name-similarity
candidates (entityasm.py:137-160), keep candidates that (a) carry the
relation's induced RANGE type, (b) are within ``max_dist`` edit distance,
(c) do not form an existing triple (correct_errors.py:108-112); re-score
each corrected triple with the SAME fitted scorer and accept the best
candidate iff ``new/old ≥ min_score_gain`` and ``new > min_score``
(ties → smaller distance, then smaller candidate id;
correct_errors.py:126-141).

Spark re-expression — one funnel (``_repair``) of joins, no driver-side
loop over suspects, with the re-scorer passed in:

* name candidates: SymSpell delete-variant blocking over normalized
  entity names + exact OSA Damerau-Levenshtein verify in the JVM
  (``osa_within2``) — one variant self-join, symmetric output;
* range filter: the induced per-relation range (scoring.domran_model,
  side='o') semi-joined against the candidate's types;
* re-score with the scorer fitted on the observed graph, exactly like
  the reference re-calling ed.predict_proba. ``correct_errors`` passes
  SDValidate's closed-form (p, types(o_new)) cosine against the noisy
  graph's (p, t) distribution; ``correct_errors_patybred`` passes
  ``patybred.score_facts`` over the (s, p, o_new) triples;
* accept: per-fact window over the (small) candidate set — max rounded
  new score, then min distance, then min candidate id.

The whole loop is SQL-expressible → exact DuckDB oracle
(``corrections_sql``). P7 (entity-kept filter) falls out of the accepted
corrections: ``apply_corrections`` rewrites accepted facts and drops the
rest of the suspect set, the reference's repair semantics.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

MAX_DIST = 2
MIN_SCORE = 0.05
MIN_GAIN = 1.5
P_CORRECT = 0.05

_DELETES_EXPR = (
    "transform(sequence(0, length(norm)),"
    " i -> CASE WHEN i = 0 THEN norm"
    " ELSE concat(substr(norm, 1, i - 1), substr(norm, i + 1)) END)"
)


MIN_BUCKET_CAP = 64


def osa_within2(a: str, b: str) -> Column:
    """OSA Damerau-Levenshtein (``link.osa_distance``) of two string
    columns whose Levenshtein distance is at most 2 — true of every pair
    the delete-variant blocking emits, since both names are at most one
    delete away from a shared variant.

    On such pairs OSA equals Levenshtein, except that it is 1 where
    Levenshtein is 2 and the names differ by one swap of adjacent
    characters (OSA is at most 1 only for equal strings, one edit or one
    transposition). Plain JVM expressions: no Python worker round trip.
    """
    x, y = F.col(a), F.col(b)
    lev = F.levenshtein(x, y)

    def swapped_at(i: Column) -> Column:
        return F.concat(x.substr(F.lit(1), i - 1), x.substr(i + 1, F.lit(1)),
                        x.substr(i, F.lit(1)),
                        x.substr(i + 2, F.length(x))) == y

    swap = ((lev == 2) & (F.length(x) == F.length(y))
            & F.exists(F.sequence(F.lit(1), F.length(x) - 1), swapped_at))
    return F.when(swap, F.lit(1)).otherwise(lev)


def auto_max_bucket(n_entities: int) -> int:
    """Scale-default SymSpell hot-bucket cap: max(64, 8·⌈log2 n⌉).

    A delete-variant shared by B names costs B² candidate pairs but
    carries no typo signal beyond the handful of true near-names a real
    entity has, so the cap needs to grow only logarithmically with the
    dictionary. The floor keeps every fixture bucket (max 19 at sf0.1)
    untouched — driver oracles are bit-identical — while a naive caller
    at 10^9 entities gets ≤ 240² pairs per hot bucket instead of
    |bucket|². Same derive-from-corpus-size policy as
    simsearch.auto_band_planes.
    """
    import math

    return max(MIN_BUCKET_CAP, 8 * math.ceil(math.log2(max(2, n_entities))))


def name_candidates(entities: DataFrame, max_dist: int = MAX_DIST,
                    max_bucket: int | None | str = "auto",
                    subjects: DataFrame | None = None,
                    n_entities: int | None = None) -> DataFrame:
    """→ (a, b, dist): entity-id pairs with similar names, both directions.

    SymSpell distance-1 delete variants block the candidates (recall 1.0
    at DL ≤ 1, partial at 2 — the standard SymSpell trade; the DuckDB
    oracle shares the exact blocking); exact OSA DL (:func:`osa_within2`)
    verifies ≤ max_dist.

    ``max_bucket`` drops delete-variant buckets with more members than
    the cap BEFORE the self-join — the standard SymSpell guard against
    hot buckets (a variant shared by thousands of names carries no typo
    signal but costs |bucket|² pairs). Default ``"auto"`` derives the
    cap from the dictionary size (:func:`auto_max_bucket` — above every
    fixture bucket, so exact blocking there); ``None`` = uncapped.

    ``subjects`` (optional, single ``id`` column) restricts the LEFT
    side ``a`` before the join: correction callers only consume pairs
    whose ``a`` is a suspect object, so pruning first turns the stage
    from O(all-names² / buckets) into O(|suspects| · bucket) — the
    pair set for those ``a`` is identical (the right side still spans
    the full dictionary).
    """
    # pipeline callers already know the dictionary size — passing it
    # skips an entities.count() job per call
    if max_bucket == "auto":
        max_bucket = auto_max_bucket(
            entities.count() if n_entities is None else n_entities)
    from kgspark.util import materialize

    m = entities.select(
        F.col("id"),
        F.regexp_replace(F.lower("name"), "[^a-z0-9]", "").alias("norm"))
    v = m.select("id", "norm",
                 F.explode(F.expr(_DELETES_EXPR)).alias("var")).distinct()
    if max_bucket is not None:
        ok = v.groupBy("var").agg(F.count("*").alias("_n")) \
            .where(F.col("_n") <= max_bucket).select("var")
        v = v.join(ok, "var", "left_semi")
    # checkpoint the capped variant table: it feeds BOTH sides of the
    # blocking self-join (separate subtrees — the explode+distinct+cap
    # chain would otherwise execute twice per action)
    v = materialize(v)
    vl = v if subjects is None else v.join(
        subjects.select("id"), "id", "left_semi")
    l = vl.select("var", F.col("id").alias("a"), F.col("norm").alias("na"))
    r = v.select("var", F.col("id").alias("b"), F.col("norm").alias("nb"))
    cand = (
        l.join(r, "var").where(F.col("a") != F.col("b"))
        .select("a", "b", "na", "nb").distinct()
    )
    pairs = (
        cand.withColumn("dist", osa_within2("na", "nb"))
        .where(F.col("dist") <= max_dist)
        .select("a", "b", "dist")
    )
    return pairs


def _suspects(ranked: DataFrame, p: float) -> DataFrame:
    """The top ``p`` fraction of ``ranked`` (rank 1 = most suspect) →
    (s, p, o, score)."""
    n = int(ranked.count() * p)
    return ranked.where(F.col("rank") <= n).select("s", "p", "o", "score")


def _type_dist(facts: DataFrame, types: DataFrame):
    """→ (dist, norms): SDValidate's checkpointed (p, t, dist) object-type
    distribution and its per-relation norms (p, _nrm)."""
    from kgspark.scoring import ot_dist
    from kgspark.util import materialize

    dist = materialize(ot_dist(facts, types, "o"))
    norms = dist.groupBy("p").agg(
        F.sqrt(F.sum(F.col("dist") * F.col("dist"))).alias("_nrm"))
    return dist, norms


def _type_dots(pe: DataFrame, types: DataFrame, dist: DataFrame) -> DataFrame:
    """(p, e) keys → (p, e, _dot, _nt): the sum of dist[p, t] and the
    count over e's types, (0, 0) for an untyped e."""
    return (
        pe.join(types, "e", "left")
        .join(F.broadcast(dist), ["p", "t"], "left")
        .groupBy("p", "e")
        .agg(F.sum(F.coalesce("dist", F.lit(0.0))).alias("_dot"),
             F.count("t").alias("_nt"))
    )


def _accepted(cand: DataFrame, min_score: float,
              min_score_gain: float) -> DataFrame:
    """The acceptance gate on ``new_score`` against ``score`` (old score
    0 → any positive new score passes, the reference's new/0 = inf
    behavior)."""
    gain_ok = F.when(F.col("score") == 0, F.col("new_score") > 0) \
        .otherwise(F.col("new_score") / F.col("score") >= min_score_gain)
    return cand.where(gain_ok & (F.col("new_score") > min_score)
                      & (F.col("new_score") >= F.col("score")))


def _repair(ranked: DataFrame, facts: DataFrame, types: DataFrame,
            entities: DataFrame, rescore, p: float, min_score: float,
            min_score_gain: float, max_dist: int, conf: float,
            require_multitype: bool, exclude: DataFrame | None,
            n_entities: int | None) -> DataFrame:
    """The entity-repair funnel → (s, p, o, score, o_new, new_score, dist).

    ``rescore`` maps the gated candidates (s, p, o, score, o_new, dist)
    to the same rows with a ``new_score`` column."""
    from kgspark.scoring import domran_model
    from kgspark.util import materialize

    suspects = _suspects(ranked, p)
    if require_multitype:
        multi = types.groupBy("e").agg(F.count("*").alias("_nt0")) \
            .where(F.col("_nt0") >= 2).select(F.col("e").alias("o"))
        suspects = suspects.join(multi, "o", "left_semi")
    if exclude is not None:
        suspects = suspects.join(exclude.select("s", "p", "o"),
                                 ["s", "p", "o"], "left_anti")

    cands = name_candidates(
        entities, max_dist,
        subjects=suspects.select(F.col("o").alias("id")).distinct(),
        n_entities=n_entities)
    cand = suspects.join(
        cands.select(F.col("a").alias("o"), F.col("b").alias("o_new"), "dist"),
        "o")

    # candidate must carry the relation's induced range type
    ran = domran_model(facts, types, conf, "o").select(
        "p", F.col("t").alias("_rt"))
    cand = cand.join(F.broadcast(ran), "p").join(
        types.select(F.col("e").alias("o_new"), F.col("t").alias("_rt")),
        ["o_new", "_rt"], "left_semi")

    # corrected triple must not already exist
    cand = cand.join(
        facts.select("s", "p", F.col("o").alias("o_new")),
        ["s", "p", "o_new"], "left_anti")
    # checkpoint the gated candidate set: it feeds the re-score key
    # distinct AND the join back — without truncation the whole funnel
    # (blocking self-join + edit-distance verify + gates) executes once
    # per consumer subtree
    cand = _accepted(rescore(materialize(cand)), min_score, min_score_gain)

    w = Window.partitionBy("s", "p", "o").orderBy(
        F.desc("new_score"), "dist", "o_new")
    return (
        cand.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("s", "p", "o", "score", "o_new", "new_score", "dist")
    )


def correct_errors(
    ranked: DataFrame,
    facts: DataFrame,
    types: DataFrame,
    entities: DataFrame,
    p: float = P_CORRECT,
    min_score: float = MIN_SCORE,
    min_score_gain: float = MIN_GAIN,
    max_dist: int = MAX_DIST,
    conf: float = 0.95,
    require_multitype: bool = False,
    exclude: DataFrame | None = None,
    n_entities: int | None = None,
) -> DataFrame:
    """→ (s, p, o, score, o_new, new_score, dist) accepted corrections.

    ``ranked`` = (s, p, o, score, rank, …) over the noisy graph (score
    ascending = most suspect first); ``facts`` = the noisy (s, p, o).

    Reference-fidelity options (defaults preserve the demo-query
    behavior, deviations documented):
    * ``require_multitype=True`` — the reference only attempts object
      replacement when the object has >1 type (correct_errors.py:110).
    * ``exclude`` — facts (s, p, o) already repaired by a TYPE correction;
      the reference skips entity replacement for those (the ``continue``
      after a type flip is accepted, correct_errors.py:55-75). Pass
      ``type_corrections(...)`` output to enforce the exclusivity.

    The re-score is SDValidate's cosine of types(o_new) against the
    noisy graph's (p, t) distribution: dot / (sqrt(nt) · ‖dist_p‖).
    """
    def rescore(cand: DataFrame) -> DataFrame:
        dist, norms = _type_dist(facts, types)
        dots = _type_dots(
            cand.select("p", F.col("o_new").alias("e")).distinct(),
            types, dist).withColumnRenamed("e", "o_new")
        return cand.join(dots, ["p", "o_new"]).join(F.broadcast(norms), "p") \
            .withColumn("new_score", F.round(
                F.col("_dot") / (F.sqrt("_nt") * F.col("_nrm")), 6))

    return _repair(ranked, facts, types, entities, rescore, p, min_score,
                   min_score_gain, max_dist, conf, require_multitype,
                   exclude, n_entities)


def correct_errors_patybred(
    ranked: DataFrame,
    facts: DataFrame,
    types: DataFrame,
    entities: DataFrame,
    idx,
    models: DataFrame,
    p: float = P_CORRECT,
    min_score: float = 0.1,
    min_score_gain: float = MIN_GAIN,
    max_dist: int = MAX_DIST,
    conf: float = 0.95,
    require_multitype: bool = False,
    n_entities: int | None = None,
) -> DataFrame:
    """M7 with the PaTyBRED scorer — the configuration where confusion
    repair actually works: a typo-confused object has no path context for
    its subject, so the corrected triple's path features push its score
    far above the corrupted one and the reference's gain=1.5 gate fires
    (a type-level scorer like SDValidate cannot separate same-typed
    confusions — see correct_errors). Same candidate funnel; the re-score
    is patybred.score_facts over the candidate triples with the models
    fitted on the noisy graph (= the reference re-calling
    ed.predict_proba, correct_errors.py:126-131).

    ``require_multitype=True`` enforces the reference's object-replacement
    guard — replacement is only attempted when the suspect's object
    carries MORE THAN ONE type (``types[o].nnz > 1``,
    correct_errors.py:110) — the reference default. The demo queries on
    the 4-relation base corpus opt out (single-typed module/symbol
    objects would otherwise leave nothing to correct; documented
    deviation); the rich-corpus reference-gate query runs it on."""
    from kgspark import patybred

    def rescore(cand: DataFrame) -> DataFrame:
        ct = cand.select("s", "p", F.col("o_new").alias("o")).distinct()
        resc = patybred.score_facts(ct, idx, types, models).select(
            "s", "p", F.col("o").alias("o_new"),
            F.round("score", 6).alias("new_score"))
        return cand.join(resc, ["s", "p", "o_new"])

    return _repair(ranked, facts, types, entities, rescore, p, min_score,
                   min_score_gain, max_dist, conf, require_multitype, None,
                   n_entities)


# ------------------------------------------- per-type predictor (M6)

TP_CAP = 2500
TP_NEG_SAMPLE = 3  # ×cap global entity sample feeding per-type negatives


def entity_features(facts: DataFrame) -> DataFrame:
    """(e, feat) boolean incident-relation features — ``out_<p>`` (entity
    appears as subject of relation p) / ``in_<p>`` (as object). The
    deterministic stand-in for the reference's external ``tpdata`` feature
    matrix (/root/reference/correct_errors.py:28-33)."""
    out_ = facts.select(F.col("s").alias("e"),
                        F.concat(F.lit("out_"), F.col("p")).alias("feat"))
    in_ = facts.select(F.col("o").alias("e"),
                       F.concat(F.lit("in_"), F.col("p")).alias("feat"))
    return out_.unionByName(in_).distinct()


def fit_type_models(facts: DataFrame, types: DataFrame,
                    cap: int = TP_CAP) -> DataFrame:
    """Per-TYPE logistic models (t, feat, w) over incident-relation
    features — the learned analog of the reference's external type
    predictor (``tp.predict``, correct_errors.py:41-73), trained with the
    same deterministic machinery as the per-relation PaTyBRED fit:
    positives = entities of the type (hash-capped), negatives = a
    hash-ordered global entity sample minus the type's members
    (per-type capped); fit = kgspark.patybred._fit_group."""
    from kgspark.hashing import puniform
    from kgspark.ordering import global_ordinal, grouped_ordinal
    from kgspark.patybred import _fit_group
    from kgspark.util import materialize

    ef = entity_features(facts)
    uni = facts.select(F.col("s").alias("e")).unionByName(
        facts.select(F.col("o").alias("e"))).distinct()
    pos = types.withColumn("_u", puniform(["e", "t"], "tppos"))
    pos = grouped_ordinal(pos, ["t"], ["_u", "e"], out="_rn") \
        .where(F.col("_rn") <= cap).select("e", "t")
    samp = uni.withColumn("_u", puniform(["e"], "tpneg"))
    samp = global_ordinal(samp, ["_u", "e"], out="_rn") \
        .where(F.col("_rn") <= TP_NEG_SAMPLE * cap).select("e")
    negc = samp.crossJoin(types.select("t").distinct()) \
        .join(types, ["e", "t"], "left_anti") \
        .withColumn("_u", puniform(["e", "t"], "tpnegc"))
    neg = grouped_ordinal(negc, ["t"], ["_u", "e"], out="_rn") \
        .where(F.col("_rn") <= cap).select("e", "t")
    train = pos.withColumn("label", F.lit(1)).unionByName(
        neg.withColumn("label", F.lit(0)))
    rows = train.join(
        ef.groupBy("e").agg(F.collect_set("feat").alias("feats")),
        "e", "left",
    ).select(F.col("t").alias("p"), F.col("e").alias("s"),
             F.lit(0).cast("long").alias("o"), "label", "feats")
    return materialize(
        rows.groupBy("p").applyInPandas(
            # 1-arg wrapper: a 2-param function would be called as
            # (key, pdf) by applyInPandas
            lambda pdf: _fit_group(pdf), "p int, feat string, w double")
    ).select(F.col("p").alias("t"), "feat", "w")


def predict_type_pairs(pairs: DataFrame, facts: DataFrame,
                       models: DataFrame) -> DataFrame:
    """(e, t) pairs → (e, t, pred): sigmoid(bias_t + Σ active weights)
    rounded to 6dp > 0.5 (rounding keeps the boolean identical across
    engines despite summation order). Types without a model (single-class
    training) fall back to pred=TRUE — the unconditional-flip behavior."""
    ef = entity_features(facts)
    w = models.where(F.col("feat") != "_bias")
    b = models.where(F.col("feat") == "_bias").select(
        "t", F.col("w").alias("_b"))
    dots = (
        pairs.join(ef, "e")
        .join(F.broadcast(w), ["t", "feat"])
        .groupBy("e", "t").agg(F.sum("w").alias("_dot"))
    )
    z = F.coalesce("_dot", F.lit(0.0)) + F.col("_b")
    return (
        pairs.join(dots, ["e", "t"], "left")
        .join(F.broadcast(b), "t", "left")
        .select("e", "t",
                F.when(F.col("_b").isNull(), F.lit(True))
                .otherwise(F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)
                           > 0.5).alias("pred"))
    )


def type_corrections(
    ranked: DataFrame,
    facts: DataFrame,
    types: DataFrame,
    p: float = P_CORRECT,
    min_score: float = MIN_SCORE,
    min_score_gain: float = MIN_GAIN,
    conf: float = 0.95,
    type_models: DataFrame | None = None,
) -> DataFrame:
    """M6 type-prediction correction → (s, p, o, score, t_new, new_score).

    Reference (/root/reference/correct_errors.py:45-75): before proposing
    replacement entities, check whether flipping the object's RELEVANT
    types to the type-predictor's output raises the triple's score past
    the same gain/min gates; if so, report a TYPE correction for the
    entity and skip entity replacement.

    The relevant o-type is the relation's induced range
    (scoring.domran_model side='o' — the reference's
    ``relevant_o_types``); the tested flip is "object gains the missing
    range type". SDValidate's score decomposes as dot/(sqrt(nt)·‖dist_p‖),
    so the flipped score is closed-form columnar arithmetic — no
    re-materialization: (dot + dist_p[t_ran]) / (sqrt(nt+1)·‖dist_p‖).

    ``type_models`` = per-type learned predictor weights
    (fit_type_models); when given, the flip is only tested where the
    predictor PREDICTS the object should carry the type — the reference's
    mechanism (flip to the predictor's output, not unconditionally).
    None = unconditional flip (the pre-predictor simplification).
    """
    from kgspark.scoring import domran_model
    from kgspark.util import materialize

    ran = domran_model(facts, types, conf, "o").select(
        "p", F.col("t").alias("t_new"))
    cand = _suspects(ranked, p).join(F.broadcast(ran), "p")
    # flip only applies when the object LACKS the predicted type
    cand = cand.join(
        types.select(F.col("e").alias("o"), F.col("t").alias("t_new")),
        ["o", "t_new"], "left_anti")
    if type_models is not None:
        pairs = cand.select(F.col("o").alias("e"),
                            F.col("t_new").alias("t")).distinct()
        pred = predict_type_pairs(pairs, facts, type_models)
        cand = cand.join(
            pred.where("pred").select(F.col("e").alias("o"),
                                      F.col("t").alias("t_new")),
            ["o", "t_new"], "left_semi")

    # checkpoint the gated candidate set: it feeds the re-score key
    # distinct AND the final join (same duplication as _repair)
    cand = materialize(cand)

    dist, norms = _type_dist(facts, types)
    # LEFT join in _type_dots: a candidate object that lost ALL its type
    # rows (inject_type_errors regime) still re-scores — the flip is then
    # tested from the empty vector (dot=0, nt=0), mirroring the 0.0
    # score sdvalidate_scores gave the fact.
    parts = _type_dots(cand.select("p", F.col("o").alias("e")).distinct(),
                       types, dist).withColumnRenamed("e", "o")
    cand = cand.join(parts, ["p", "o"]) \
        .join(F.broadcast(dist.withColumnRenamed("t", "t_new")
                          .withColumnRenamed("dist", "_fd")),
              ["p", "t_new"], "left") \
        .join(F.broadcast(norms), "p")
    new_score = F.round(
        (F.col("_dot") + F.coalesce("_fd", F.lit(0.0)))
        / (F.sqrt(F.col("_nt") + 1) * F.col("_nrm")), 6)
    return _accepted(cand.withColumn("new_score", new_score), min_score,
                     min_score_gain) \
        .select("s", "p", "o", "score", "t_new", "new_score")


def apply_corrections(facts: DataFrame, corrections: DataFrame) -> DataFrame:
    """Rewrite accepted corrections into the fact table (P7 repair):
    corrected facts swap their object; everything else passes through."""
    fixed = corrections.select("s", "p", "o", "o_new")
    return (
        facts.join(fixed, ["s", "p", "o"], "left")
        .select("s", "p", F.coalesce("o_new", "o").alias("o"))
        .distinct()
    )


# ---------------------------------------------------------------- SQL (oracle)


P_TYERR = 0.05


def inject_type_errors(types: DataFrame, p_err: float = P_TYERR) -> DataFrame:
    """Deterministically DROP a fraction of type assertions — the
    type-incompleteness regime the reference's type predictor repairs
    (its tp model predicts types the KG record is missing,
    /root/reference/correct_errors.py:41-73)."""
    from kgspark.hashing import puniform

    return types.where(puniform(["e", "t"], "tyerr") >= p_err)


def degraded_kg_ctes(raw_cte: str, p_ty: float = P_TYERR) -> str:
    """kg_ctes with the ``ty`` CTE replaced by its deterministically
    degraded variant (inject_type_errors mirror); the full table remains
    available as ``tyfull``."""
    from kgspark.hashing import sql_puniform
    from kgspark.typesys import kg_ctes

    kg = kg_ctes(raw_cte)
    old = "ty AS (SELECT ta.e, tn.t FROM ta JOIN tn ON tn.name = ta.t_name)"
    assert old in kg, "kg_ctes ty definition changed; update degraded_kg_ctes"
    key = ("concat_ws('|', 'tyerr', CAST(e AS VARCHAR), "
           "CAST(t AS VARCHAR))")
    new = ("tyfull AS (SELECT ta.e, tn.t FROM ta JOIN tn "
           "ON tn.name = ta.t_name),\n"
           f"ty AS (SELECT e, t FROM tyfull "
           f"WHERE {sql_puniform(key, 'duckdb')} >= {p_ty})")
    return kg.replace(old, new)


_TP_FIT_CACHE: dict[tuple, "object"] = {}


def _phash32_py(key: str) -> int:
    from hashlib import md5

    return int(md5(key.encode()).hexdigest()[:8], 16)


def _tp_fit_from_duckdb(raw_cte: str, p_error: float, sf_dir: str,
                        cap: int = TP_CAP, p_ty: float | None = None):
    """Reproduce fit_type_models without Spark: training rows come from
    the noisy-graph SQL (same hash sampling as the Spark side, shared
    md5), the fit is kgspark.patybred._fit_group. Returns (t, feat, w)
    rows to embed as VALUES in the oracle SQL. ``p_ty`` switches to the
    clean-facts / degraded-types scope (inject_type_errors regime)."""
    from hashlib import sha256

    import pandas as pd

    key = (sha256(raw_cte.encode()).hexdigest(), p_error, sf_dir, cap, p_ty)
    if key in _TP_FIT_CACHE:
        return _TP_FIT_CACHE[key]
    import duckdb

    from kgspark import pipeline
    from kgspark.dialect import materialize_ctes
    from kgspark.patybred import _fit_group

    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM read_parquet("
                f"'{sf_dir}/documents.parquet')")
    if p_ty is None:
        scope = f"WITH {pipeline._noisy_ctes(raw_cte, p_error)}"
        facts_q = f"{scope} SELECT s, p, o FROM noisyf"
    else:
        scope = f"WITH {degraded_kg_ctes(raw_cte, p_ty)}"
        facts_q = f"{scope} SELECT s, p, o FROM enc"
    facts = con.execute(materialize_ctes(facts_q)).df()
    ty = con.execute(materialize_ctes(
        f"{scope} SELECT e, t FROM ty")).df()
    con.close()

    feats: dict[int, set[str]] = {}
    for r in facts.itertuples():
        feats.setdefault(int(r.s), set()).add(f"out_{int(r.p)}")
        feats.setdefault(int(r.o), set()).add(f"in_{int(r.p)}")

    tset: dict[int, set[int]] = {}
    for r in ty.itertuples():
        tset.setdefault(int(r.t), set()).add(int(r.e))
    all_t = sorted(tset)

    def u(salt: str, *vals) -> float:
        k = "|".join([salt] + [str(v) for v in vals])
        return _phash32_py(k) / 2**32

    rows = []
    # positives: per type, hash-capped
    for t in all_t:
        mem = sorted(tset[t], key=lambda e: (u("tppos", e, t), e))[:cap]
        rows += [(t, e, 1) for e in mem]
    # negatives: global hash-ordered entity sample minus members, per-type cap
    uni = sorted(feats)
    samp = sorted(uni, key=lambda e: (u("tpneg", e), e))[:TP_NEG_SAMPLE * cap]
    for t in all_t:
        negs = [e for e in samp if e not in tset[t]]
        negs = sorted(negs, key=lambda e: (u("tpnegc", e, t), e))[:cap]
        rows += [(t, e, 0) for e in negs]

    train = pd.DataFrame(rows, columns=["p", "s", "label"])
    train["o"] = 0
    train["feats"] = [sorted(feats.get(e, ())) for e in train["s"]]
    outs = [_fit_group(grp) for _, grp in train.groupby("p", sort=True)]
    res = pd.concat(outs, ignore_index=True) if outs else None
    _TP_FIT_CACHE[key] = res
    return res


def _tp_pred_ctes(weights) -> str:
    """Prediction CTEs (after a scope providing ``noisyf`` and ``tcand0``)
    ending in ``tpred`` (e, tt, pred) — mirror of predict_type_pairs."""
    if weights is None or len(weights) == 0:
        vals = "(0, '_none', CAST('0.0' AS DOUBLE))"
    else:
        from kgspark.patybred import _sql_num

        vals = ", ".join(
            f"({int(r.p)}, '{r.feat}', {_sql_num(r.w)})"
            for r in weights.itertuples())
    return f"""
tpw(tt, tfeat, tw) AS (VALUES {vals}),
tpb AS (SELECT tt, tw FROM tpw WHERE tfeat = '_bias'),
tpwf AS (SELECT tt, tfeat, tw FROM tpw WHERE tfeat <> '_bias'),
tef AS (SELECT DISTINCT e, feat FROM (
  SELECT s AS e, 'out_' || CAST(p AS VARCHAR) AS feat FROM noisyf
  UNION ALL
  SELECT o AS e, 'in_' || CAST(p AS VARCHAR) FROM noisyf)),
tpq AS (SELECT DISTINCT o AS e, t_new AS tt FROM tcand0),
tpd AS (SELECT tpq.e, tpq.tt, sum(tpwf.tw) AS dot
        FROM tpq JOIN tef ON tef.e = tpq.e
        JOIN tpwf ON tpwf.tt = tpq.tt AND tpwf.tfeat = tef.feat
        GROUP BY tpq.e, tpq.tt),
tpred AS (
  SELECT tpq.e, tpq.tt,
         CASE WHEN tpb.tt IS NULL THEN TRUE
              ELSE round(1.0 / (1.0 + exp(-(coalesce(tpd.dot, 0.0)
                                            + tpb.tw))), 6) > 0.5 END AS pred
  FROM tpq
  LEFT JOIN tpd ON tpd.e = tpq.e AND tpd.tt = tpq.tt
  LEFT JOIN tpb ON tpb.tt = tpq.tt)
"""


def type_corrections_ctes(p: float = P_CORRECT, min_score: float = MIN_SCORE,
                          min_score_gain: float = MIN_GAIN,
                          conf: float = 0.95,
                          tp_weights=None) -> str:
    """CTE chain after the ``flg``/``noisyf``/``ty`` scope → ``tcorr``.

    ``tp_weights`` = per-type predictor weight rows (from
    _tp_fit_from_duckdb): candidates are then gated on the learned
    prediction exactly like the Spark side."""
    if tp_weights is not None:
        pred_ctes = f"{_tp_pred_ctes(tp_weights)},"
        tcand = """
tcand AS (
  SELECT tcand0.* FROM tcand0
  JOIN tpred ON tpred.e = tcand0.o AND tpred.tt = tcand0.t_new
  WHERE tpred.pred),"""
    else:
        pred_ctes = ""
        tcand = "\ntcand AS (SELECT * FROM tcand0),"
    return f"""
trkd AS (
  SELECT s, p, o, score,
         CAST(row_number() OVER (ORDER BY score, s, p, o) AS BIGINT) AS rank
  FROM flg),
tsusp AS (
  SELECT s, p, o, score FROM trkd
  WHERE rank <= CAST(floor((SELECT count(*) FROM trkd) * {p}) AS BIGINT)),
tran AS (
  SELECT p, t FROM (
    SELECT c.p, c.t,
           row_number() OVER (PARTITION BY c.p ORDER BY pop.pop, c.t) AS rn
    FROM (SELECT p, t, count(*) AS cov FROM
            (SELECT DISTINCT p, o AS e FROM noisyf) se JOIN ty ON ty.e = se.e
          GROUP BY p, t) c
    JOIN (SELECT p, count(*) AS n_e FROM (SELECT DISTINCT p, o AS e FROM noisyf) x
          GROUP BY p) n ON n.p = c.p
    JOIN (SELECT t, count(*) AS pop FROM ty GROUP BY t) pop ON pop.t = c.t
    WHERE c.cov > {conf} * n.n_e) z WHERE rn = 1),
ttot AS (SELECT count(*) AS n FROM noisyf),
tdist AS (
  SELECT f.p, ty.t, count(*) * 1.0 / (SELECT n FROM ttot) AS dist
  FROM noisyf f JOIN ty ON ty.e = f.o GROUP BY f.p, ty.t),
tnorms AS (SELECT p, sqrt(sum(dist * dist)) AS nrm FROM tdist GROUP BY p),
tcand0 AS (
  SELECT tsusp.s, tsusp.p, tsusp.o, tsusp.score, tran.t AS t_new
  FROM tsusp JOIN tran ON tran.p = tsusp.p
  WHERE NOT EXISTS (SELECT 1 FROM ty
                    WHERE ty.e = tsusp.o AND ty.t = tran.t)),
{pred_ctes}{tcand}
tparts AS (
  SELECT q.p, q.o, sum(coalesce(tdist.dist, 0)) AS dot, count(ty.t) AS nt
  FROM (SELECT DISTINCT p, o FROM tcand) q
  LEFT JOIN ty ON ty.e = q.o
  LEFT JOIN tdist ON tdist.p = q.p AND tdist.t = ty.t
  GROUP BY q.p, q.o),
tscored AS (
  SELECT tcand.*,
         round((tparts.dot + coalesce(fd.dist, 0.0))
               / (sqrt(tparts.nt + 1) * tnorms.nrm), 6) AS new_score
  FROM tcand
  JOIN tparts ON tparts.p = tcand.p AND tparts.o = tcand.o
  LEFT JOIN tdist fd ON fd.p = tcand.p AND fd.t = tcand.t_new
  JOIN tnorms ON tnorms.p = tcand.p),
tcorr AS (
  SELECT s, p, o, score, t_new, new_score FROM tscored
  WHERE (CASE WHEN score = 0 THEN new_score > 0
              ELSE new_score / score >= {min_score_gain} END)
    AND new_score > {min_score}
    AND new_score >= score)
"""


def type_corrections_sql(raw_cte: str, p_error: float = 0.05,
                         p: float = P_CORRECT, min_score: float = MIN_SCORE,
                         min_score_gain: float = MIN_GAIN,
                         learned: bool = False,
                         sf_dir: str | None = None) -> str:
    """``learned=True`` gates candidates on the per-type predictor: the
    fit runs Spark-free (_tp_fit_from_duckdb) on the driver's dataset and
    its weights are embedded as VALUES — same pattern as the PaTyBRED
    end-to-end oracle."""
    from kgspark import pipeline
    from kgspark.util import oracle_sf_dir

    w = (_tp_fit_from_duckdb(raw_cte, p_error, sf_dir or oracle_sf_dir())
         if learned else None)
    return (f"WITH {pipeline._noisy_ctes(raw_cte, p_error)}, "
            f"{type_corrections_ctes(p, min_score, min_score_gain, tp_weights=w)} "
            "SELECT s, p, o, score, t_new, new_score FROM tcorr")


def type_corrections_learned_sql(raw_cte: str, p_ty: float = P_TYERR,
                                 p: float = P_CORRECT,
                                 min_score: float = MIN_SCORE,
                                 min_score_gain: float = MIN_GAIN,
                                 sf_dir: str | None = None) -> str:
    """Oracle for the type-incompleteness repair: clean facts, degraded
    types (inject_type_errors), SDValidate ranking, learned per-type
    predictor gating the flips (weights fitted Spark-free on the SAME
    degraded tables and embedded as VALUES)."""
    from kgspark.scoring import sdvalidate_ctes
    from kgspark.util import oracle_sf_dir

    w = _tp_fit_from_duckdb(raw_cte, 0.0, sf_dir or oracle_sf_dir(),
                            p_ty=p_ty)
    return (f"WITH {degraded_kg_ctes(raw_cte, p_ty)},\n"
            "noisyf AS (SELECT s, p, o FROM enc),\n"
            f"{sdvalidate_ctes('noisyf')},\n"
            "flg AS (SELECT s, p, o, score FROM sdv),\n"
            f"{type_corrections_ctes(p, min_score, min_score_gain, tp_weights=w)} "
            "SELECT s, p, o, score, t_new, new_score FROM tcorr")


def corrections_sql(raw_cte: str, p_error: float = 0.05,
                    p: float = P_CORRECT, min_score: float = MIN_SCORE,
                    min_score_gain: float = MIN_GAIN) -> str:
    from kgspark import pipeline

    return (f"WITH {pipeline._noisy_ctes(raw_cte, p_error)}, "
            f"{corrections_ctes(p, min_score, min_score_gain)} "
            "SELECT s, p, o, score, o_new, new_score, dist FROM corr")


def corrections_pb_sql(raw_cte: str, p_error: float = 0.05,
                       p: float = P_CORRECT, min_score: float = 0.1,
                       min_score_gain: float = MIN_GAIN,
                       conf: float = 0.95,
                       sf_dir: str | None = None,
                       R: int | None = None,
                       replace: bool = False,
                       require_multitype: bool = False) -> str:
    """Exact oracle for correct_errors_patybred on the kind-3 noisy graph:
    reuses the Spark-free PaTyBRED fit (weights embedded as VALUES in
    the ``wt``/``bs`` CTEs) and re-scores candidate triples with the same
    feature joins the noisy facts were scored with. ``R``/``replace``/
    ``require_multitype`` mirror the Spark-side options (rich corpus,
    original-removing injection, reference object guard)."""
    from kgspark.patybred import R_CONST, _pb_scored_sql
    from kgspark.util import oracle_sf_dir

    chain = _pb_scored_sql(raw_cte, p_error, sf_dir or oracle_sf_dir(),
                           "lgr", R=R or R_CONST, kind=3, replace=replace)
    guard = ("\n    AND (SELECT count(*) FROM ty WHERE ty.e = rkd.o) >= 2"
             if require_multitype else "")
    return f"""
WITH {chain},
flg AS (SELECT s, p, o, round(score, 6) AS score, is_error FROM scored),
rkd AS (
  SELECT s, p, o, score,
         CAST(row_number() OVER (ORDER BY score, s, p, o) AS BIGINT) AS rank
  FROM flg),
susp AS (
  SELECT s, p, o, score FROM rkd
  WHERE rank <= CAST(floor((SELECT count(*) FROM rkd) * {p}) AS BIGINT){guard}),
cran AS (
  SELECT p, t FROM (
    SELECT c.p, c.t,
           row_number() OVER (PARTITION BY c.p ORDER BY pop.pop, c.t) AS rn
    FROM (SELECT p, t, count(*) AS cov FROM
            (SELECT DISTINCT p, o AS e FROM noisyf) se JOIN ty ON ty.e = se.e
          GROUP BY p, t) c
    JOIN (SELECT p, count(*) AS n_e FROM (SELECT DISTINCT p, o AS e FROM noisyf) x
          GROUP BY p) n ON n.p = c.p
    JOIN (SELECT t, count(*) AS pop FROM ty GROUP BY t) pop ON pop.t = c.t
    WHERE c.cov > {conf} * n.n_e) z WHERE rn = 1),
ccpb AS (
  SELECT susp.s, susp.p, susp.o, susp.score, cp.b AS o_new, cp.dist
  FROM susp JOIN cpairs2 cp ON cp.a = susp.o
  JOIN cran ON cran.p = susp.p
  WHERE EXISTS (SELECT 1 FROM ty WHERE ty.e = cp.b AND ty.t = cran.t)
    AND NOT EXISTS (SELECT 1 FROM noisyf nf
                    WHERE nf.s = susp.s AND nf.p = susp.p AND nf.o = cp.b)),
dt3 AS (SELECT DISTINCT s, p, o_new FROM ccpb),
rfeat AS (
  SELECT d.s, d.p, d.o_new, memb.feat
  FROM dt3 d JOIN memb ON memb.s = d.s AND memb.o = d.o_new
  WHERE NOT (memb.single AND memb.p0 = d.p)
  UNION ALL
  SELECT d.s, d.p, d.o_new, 'st_' || CAST(ty.t AS VARCHAR)
  FROM dt3 d JOIN ty ON ty.e = d.s
  UNION ALL
  SELECT d.s, d.p, d.o_new, 'ot_' || CAST(ty.t AS VARCHAR)
  FROM dt3 d JOIN ty ON ty.e = d.o_new),
rdot AS (
  SELECT rfeat.s, rfeat.p, rfeat.o_new, sum(coalesce(wt.w, 0.0)) AS dot
  FROM rfeat LEFT JOIN wt ON wt.wp = rfeat.p AND wt.feat = rfeat.feat
  GROUP BY rfeat.s, rfeat.p, rfeat.o_new),
rsc AS (
  SELECT d.s, d.p, d.o_new,
         round(CASE WHEN bs.wp IS NULL THEN 0.0
               ELSE 1.0 / (1.0 + exp(-(coalesce(rdot.dot, 0.0)
                                       + coalesce(bs.bias, 0.0)))) END, 6)
           AS new_score
  FROM dt3 d
  LEFT JOIN rdot ON rdot.s = d.s AND rdot.p = d.p AND rdot.o_new = d.o_new
  LEFT JOIN bs ON bs.wp = d.p),
cgated3 AS (
  SELECT ccpb.*, rsc.new_score
  FROM ccpb JOIN rsc ON rsc.s = ccpb.s AND rsc.p = ccpb.p
   AND rsc.o_new = ccpb.o_new
  WHERE (CASE WHEN ccpb.score = 0 THEN rsc.new_score > 0
              ELSE rsc.new_score / ccpb.score >= {min_score_gain} END)
    AND rsc.new_score > {min_score}
    AND rsc.new_score >= ccpb.score)
SELECT s, p, o, score, o_new, new_score, dist FROM (
  SELECT *, row_number() OVER (
    PARTITION BY s, p, o ORDER BY new_score DESC, dist, o_new) AS rn
  FROM cgated3) z WHERE rn = 1
"""


def corrections_excl_sql(raw_cte: str, p_error: float = 0.05,
                         p: float = P_CORRECT, min_score: float = MIN_SCORE,
                         min_score_gain: float = MIN_GAIN) -> str:
    """Oracle for the reference's full correction FLOW: type corrections
    first (unconditional-flip configuration), then entity replacement for
    the suspects the type pass did NOT repair (the ``continue`` after an
    accepted type flip, correct_errors.py:55-75)."""
    from kgspark import pipeline

    return (f"WITH {pipeline._noisy_ctes(raw_cte, p_error)}, "
            f"{type_corrections_ctes(p, min_score, min_score_gain)}, "
            f"{corrections_ctes(p, min_score, min_score_gain, exclude_tcorr=True)} "
            "SELECT s, p, o, score, o_new, new_score, dist FROM corr")


def corrected_triples_sql(raw_cte: str, p_error: float = 0.05,
                          p: float = P_CORRECT, min_score: float = MIN_SCORE,
                          min_score_gain: float = MIN_GAIN) -> str:
    from kgspark import pipeline

    return (f"WITH {pipeline._noisy_ctes(raw_cte, p_error)}, "
            f"{corrections_ctes(p, min_score, min_score_gain)} "
            "SELECT DISTINCT nf.s, nf.p, coalesce(corr.o_new, nf.o) AS o "
            "FROM noisyf nf LEFT JOIN corr "
            "ON corr.s = nf.s AND corr.p = nf.p AND corr.o = nf.o")


def name_candidates_ctes(max_dist: int = MAX_DIST) -> str:
    """CTE chain after a scope providing ``ent`` → ``cpairs2`` (a, b,
    dist): the SQL mirror of name_candidates. Shared by the correction
    oracle and the kind-3 typo-error oracle."""
    deletes = ("[CASE WHEN i = 0 THEN cnorm"
               " ELSE substr(cnorm, 1, i - 1) || substr(cnorm, i + 1) END"
               " for i in generate_series(0, length(cnorm))]")
    return f"""
cm AS (SELECT id, regexp_replace(lower(name), '[^a-z0-9]', '', 'g') AS cnorm
       FROM ent),
cvars AS (SELECT DISTINCT id, cnorm, unnest({deletes}) AS var FROM cm),
cpairs AS (
  SELECT DISTINCT l.id AS a, r.id AS b,
         damerau_levenshtein(l.cnorm, r.cnorm) AS dist
  FROM cvars l JOIN cvars r ON l.var = r.var AND l.id <> r.id),
cpairs2 AS (SELECT a, b, dist FROM cpairs WHERE dist <= {max_dist})
"""


def corrections_ctes(p: float = P_CORRECT, min_score: float = MIN_SCORE,
                     min_score_gain: float = MIN_GAIN,
                     max_dist: int = MAX_DIST, conf: float = 0.95,
                     with_cands: bool = True,
                     exclude_tcorr: bool = False) -> str:
    """CTE chain after a scope providing ``noisy``/``noisyf`` (the fact
    table), ``flg`` (s,p,o,score,is_error), ``ent``, ``ty`` — ends in
    ``corr``. Mirrors correct_errors exactly. ``with_cands=False`` skips
    the shared name-candidate CTEs when already in scope.
    ``exclude_tcorr=True`` drops suspects already repaired by a TYPE
    correction (requires ``tcorr`` in scope — the reference's
    type-fix-then-skip-entity-replacement exclusivity,
    correct_errors.py:55-75)."""
    cands = f"{name_candidates_ctes(max_dist)}," if with_cands else ""
    excl = ("""
    AND NOT EXISTS (SELECT 1 FROM tcorr
                    WHERE tcorr.s = rkd.s AND tcorr.p = rkd.p
                      AND tcorr.o = rkd.o)""" if exclude_tcorr else "")
    return f"""
rkd AS (
  SELECT s, p, o, score,
         CAST(row_number() OVER (ORDER BY score, s, p, o) AS BIGINT) AS rank
  FROM flg),
susp AS (
  SELECT s, p, o, score FROM rkd
  WHERE rank <= CAST(floor((SELECT count(*) FROM rkd) * {p}) AS BIGINT){excl}),
{cands}
cran AS (
  SELECT p, t FROM (
    SELECT c.p, c.t,
           row_number() OVER (PARTITION BY c.p ORDER BY pop.pop, c.t) AS rn
    FROM (SELECT p, t, count(*) AS cov FROM
            (SELECT DISTINCT p, o AS e FROM noisyf) se JOIN ty ON ty.e = se.e
          GROUP BY p, t) c
    JOIN (SELECT p, count(*) AS n_e FROM (SELECT DISTINCT p, o AS e FROM noisyf) x
          GROUP BY p) n ON n.p = c.p
    JOIN (SELECT t, count(*) AS pop FROM ty GROUP BY t) pop ON pop.t = c.t
    WHERE c.cov > {conf} * n.n_e) z WHERE rn = 1),
ccand AS (
  SELECT susp.s, susp.p, susp.o, susp.score, cp.b AS o_new, cp.dist
  FROM susp JOIN cpairs2 cp ON cp.a = susp.o
  JOIN cran ON cran.p = susp.p
  WHERE EXISTS (SELECT 1 FROM ty WHERE ty.e = cp.b AND ty.t = cran.t)
    AND NOT EXISTS (SELECT 1 FROM noisyf nf
                    WHERE nf.s = susp.s AND nf.p = susp.p AND nf.o = cp.b)),
ctot AS (SELECT count(*) AS n FROM noisyf),
cdist AS (
  SELECT f.p, ty.t, count(*) * 1.0 / (SELECT n FROM ctot) AS dist
  FROM noisyf f JOIN ty ON ty.e = f.o GROUP BY f.p, ty.t),
cnorms AS (SELECT p, sqrt(sum(dist * dist)) AS nrm FROM cdist GROUP BY p),
cresc AS (
  SELECT q.p, q.o_new,
         round(sum(coalesce(cdist.dist, 0)) /
               (sqrt(count(*)) * any_value(cnorms.nrm)), 6) AS new_score
  FROM (SELECT DISTINCT p, o_new FROM ccand) q
  JOIN ty ON ty.e = q.o_new
  LEFT JOIN cdist ON cdist.p = q.p AND cdist.t = ty.t
  JOIN cnorms ON cnorms.p = q.p
  GROUP BY q.p, q.o_new),
cgated AS (
  SELECT ccand.*, cresc.new_score
  FROM ccand JOIN cresc ON cresc.p = ccand.p AND cresc.o_new = ccand.o_new
  WHERE (CASE WHEN ccand.score = 0 THEN cresc.new_score > 0
              ELSE cresc.new_score / ccand.score >= {min_score_gain} END)
    AND cresc.new_score > {min_score}
    AND cresc.new_score >= ccand.score),
corr AS (
  SELECT s, p, o, score, o_new, new_score, dist FROM (
    SELECT *, row_number() OVER (
      PARTITION BY s, p, o ORDER BY new_score DESC, dist, o_new) AS rn
    FROM cgated) z WHERE rn = 1)
"""
