"""PaTyBRED core: path+type features, per-relation classifiers, scoring.

Reference: /root/reference/patybred.py (K-CAP 2017). Semantics mapped:

* inverse-relation augmentation — patybred.py:180-196 (P5): logical
  relation ``p + R`` is the transpose; symmetric relations get no inverse
  (patybred.py:152-155,186-187, P4).
* path enumeration to depth 2 — patybred.py:199-296: depth-1 paths are
  relations with support ≥ min_sup; depth-2 candidates prune immediate
  inverse backtracks, symmetric self-repeats, and inverse-reversed
  duplicates (canonical form = lexicographic min of path vs
  reversed-inverted path); kept iff min_sup ≤ support < max_nnz (P2/P3).
  The boolean matrix product A1·A2 (J1) is the equi-join on the middle
  entity + distinct.
* per-relation training set — patybred.py:495-505,586-628: positives
  capped at max_pos_train, negatives = deterministic corruption rejected
  against the relation's own positives (util.py:464-501, R1/U7).
* features — patybred.py:424-459 (J3-J4): path membership booleans
  (own path (r,) excluded, patybred.py:570-571) + subject/object type
  booleans. Stored in sparse long form (s,p,o,feat) — only true bits.
* classifier — patybred.py:366-380,618-622 (M1): reference default is
  sklearn LogisticRegression; sklearn is not in this environment, so we
  fit an equivalent L2 logistic regression with deterministic full-batch
  gradient descent in numpy inside ``applyInPandas`` (per-relation groups
  are bounded by the training caps, so pandas-side is safe at any scale).
  Relations with no positives get no model and score 0.0
  (patybred.py:536-537).
* scoring (M3) — because features are boolean, p = sigmoid(bias_p +
  Σ_active w) — expressed as a broadcast join + groupBy aggregate:
  fully JVM-side, no Python in the hot path, shuffle bounded by the
  (s,p,o) grouping.

Scale notes: path pair tables are materialized per level (checkpointed
lineage, resumable); the path join shuffles on the middle entity — hot
middle entities (e.g. ``lang:python``) are exactly the reference's
max_nnz explosion guard, which we keep as a pre-materialization count
filter; AQE skew-join covers the rest.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kgspark.hashing import phash32, pick_mod, puniform
from kgspark.util import materialize

MIN_SUP = 5
MAX_NNZ = 10_000_000
MAX_POS_TRAIN = 2500
N_NEG = 1
MAX_ATTEMPTS = 8
LR_ITERS = 300
LR_RATE = 0.5
LR_L2 = 1e-3


def inv(p: int, R: int) -> int:
    return p - R if p > R else p + R


def augmented(triples: DataFrame, R: int) -> DataFrame:
    """triples ∪ transposed triples under inverse relation ids (P5)."""
    invt = triples.select(
        F.col("o").alias("s"), (F.col("p") + R).cast("int").alias("p"),
        F.col("s").alias("o"),
    )
    return triples.unionByName(invt)


def symmetric_relations(triples: DataFrame) -> list[int]:
    """p where the relation equals its transpose (util.py:86-118, P4).

    One join + one aggregation + ONE collect (the anti-join/two-collect
    formulation ran three jobs): p is symmetric iff every (s,p,o) row
    finds its transpose — i.e. no unmatched row in the left join, so the
    matched count equals the row count. Duplicate rows inflate both
    counts equally and cannot flip the equality.
    """
    t = triples
    trans = t.select(F.col("o").alias("s"), "p", F.col("s").alias("o")) \
        .withColumn("_m", F.lit(1))
    rows = (
        t.join(trans, ["s", "p", "o"], "left")
        .groupBy("p")
        .agg(F.count("*").alias("_n"), F.count("_m").alias("_k"))
        .collect()
    )
    return sorted(r["p"] for r in rows if r["_n"] == r["_k"])


@dataclass
class PathIndex:
    R: int
    paths: dict[tuple[int, ...], DataFrame]  # path -> (s, o) pairs, distinct
    supports: dict[tuple[int, ...], int]
    syms: list[int]
    # lazily-built materialized feature tables (path_membership /
    # path_endpoints): every fit/score/negatives call re-consumes the same
    # ~2·|paths|-arm union — caching the checkpointed table makes each
    # later consumer a single scan instead of a re-planned union
    _memb: DataFrame | None = None
    _endpoints: DataFrame | None = None

    @property
    def ordered(self) -> list[tuple[int, ...]]:
        return sorted(self.paths)


def path_relevances(
    paths: dict[tuple[int, ...], DataFrame],
    supports: dict[tuple[int, ...], int],
    candidates: list[tuple[tuple[int, ...], int]],
    mode: str,
) -> dict[tuple[int, ...], float]:
    """J2 endpoint-overlap relevance of composing `path ⊕ r2` — the
    reference's cardinality estimation before the join
    (patybred.py:97-138). One distributed pass computes the overlap
    aggregates for ALL candidates (endpoint sets unioned under a tag, then
    a single join + groupBy), instead of per-candidate set intersections.

    Modes: random | mult | inter | m1 | m2 (reference semantics; relevance
    0 when the composing endpoints don't intersect).
    """
    need: set[tuple[tuple[int, ...], str]] = set()
    for p1, r2 in candidates:
        need.add((p1, "col"))
        need.add(((r2,), "row"))
        if mode in ("m1", "m2"):
            need.add((p1, "row"))
            need.add(((r2,), "col"))

    parts = []
    for path, side in sorted(need):
        col = "o" if side == "col" else "s"
        parts.append(paths[path].select(
            F.lit("_".join(map(str, path))).alias("pid"),
            F.lit(side).alias("side"),
            F.col(col).alias("e")).distinct())
    eps = parts[0]
    for q in parts[1:]:
        eps = eps.unionByName(q)
    from kgspark.util import shuffle_parts
    eps = materialize(eps.coalesce(shuffle_parts(eps)))

    def _pid(path):
        return "_".join(map(str, path))

    # pairwise counts for every candidate in one pass per aggregate kind
    pairs_df = eps.sparkSession.createDataFrame(
        [(_pid(p1), _pid((r2,)), _pid(p1 + (r2,))) for p1, r2 in candidates],
        "a string, b string, key string")
    a_col = eps.where(F.col("side") == "col").select(
        F.col("pid").alias("a"), "e")
    b_row = eps.where(F.col("side") == "row").select(
        F.col("pid").alias("b"), "e")
    inter = (pairs_df.join(a_col, "a").join(b_row, ["b", "e"])
             .groupBy("key").agg(F.count("*").alias("inter")))
    inter_map = {r["key"]: r["inter"] for r in inter.collect()}

    extra: dict[str, int] = {}
    if mode in ("m1", "m2"):
        a_row = eps.where(F.col("side") == "row").select(
            F.col("pid").alias("a"), "e")
        b_col = eps.where(F.col("side") == "col").select(
            F.col("pid").alias("b"), "e")
        if mode == "m1":
            x = (pairs_df.join(a_row, "a").join(b_col, ["b", "e"])
                 .groupBy("key").agg(F.count("*").alias("x")))
        else:  # m2: |s1 ∪ o2|
            u = pairs_df.join(a_row, "a").select("key", "e").unionByName(
                pairs_df.join(b_col, "b").select("key", "e")).distinct()
            x = u.groupBy("key").agg(F.count("*").alias("x"))
        extra = {r["key"]: r["x"] for r in x.collect()}

    rel: dict[tuple[int, ...], float] = {}
    for p1, r2 in candidates:
        key = _pid(p1 + (r2,))
        i = inter_map.get(key, 0)
        if i == 0:
            rel[p1 + (r2,)] = 0.0
        elif mode == "random":
            rel[p1 + (r2,)] = 1.0
        elif mode == "mult":
            rel[p1 + (r2,)] = float(supports[p1] * supports[(r2,)])
        elif mode == "inter":
            rel[p1 + (r2,)] = float(i)
        elif mode == "m1":
            rel[p1 + (r2,)] = float(i) / (extra.get(key, 0) + 1.0)
        elif mode == "m2":
            rel[p1 + (r2,)] = float(i * extra.get(key, 0))
        else:
            raise ValueError(f"unknown path_selection_mode {mode!r}")
    return rel


def _level_candidates(l_paths, relevant, syms, R, compatible=None):
    """Next-level composition candidates in generation order: for each
    current path (sorted) × relevant relation, apply the no-backtrack,
    symmetric-self-repeat and optional P6 domain/range prunes, then the
    canonical (inverse-reversed twin) dedup — reference
    patybred.py:199-253 candidate loop."""
    candidates: list[tuple[int, ...]] = []
    seen: set[tuple[int, ...]] = set()
    for path in sorted(l_paths):
        last = path[-1]
        for r2 in relevant:
            if last == inv(r2, R):
                continue  # no immediate backtrack
            if last == r2 and r2 in syms:
                continue  # no symmetric self-repeat
            if compatible is not None and not compatible(last, r2):
                continue  # P6 domain/range pruning
            new = path + (r2,)
            canon = tuple(inv(i, R) for i in reversed(new))
            if new in seen or canon in seen:
                continue
            seen.add(new)
            candidates.append(new)
    return candidates


RELEVANCE_MODES = ("random", "mult", "inter", "m1", "m2")


def relevance_table(triples: DataFrame, R: int,
                    min_sup: int = MIN_SUP,
                    modes: tuple[str, ...] = RELEVANCE_MODES) -> DataFrame:
    """J2 as a queryable table: endpoint-overlap relevance of every
    depth-2 composition candidate under all five reference modes
    (patybred.py:97-138) → (p1, p2, mode, relevance)."""
    spark = triples.sparkSession
    aug = materialize(augmented(triples, R).distinct())
    syms = symmetric_relations(triples)
    sup1 = {r["p"]: r["cnt"] for r in
            aug.groupBy("p").agg(F.count("*").alias("cnt")).collect()}
    # relevance lookup spans EVERY relevant relation PRESENT in aug, not
    # just min-sup singles: the reference populates path_rowscols /
    # path_matrices for all singletons it loads (patybred.py:206-219),
    # so a composition seed (min-sup) × sub-min-sup r2 is still a
    # candidate with a computable relevance. Only the SEEDS are
    # min-sup-gated. Relation ids with ZERO triples are excluded — the
    # reference has no matrix for them and the oracle's rels2 enumerates
    # DISTINCT p FROM aug, so both sides agree even when some id < R is
    # unused in the corpus.
    relevant = [p for p in range(1, 2 * R + 1)
                if p in sup1 and not (p > R and (p - R) in syms)]
    paths = {(p,): aug.where(F.col("p") == p).select("s", "o")
             for p in relevant}
    supports = {(p,): sup1.get(p, 0) for p in relevant}
    l_paths = [(p,) for p in relevant if sup1.get(p, 0) >= min_sup]
    cands = _level_candidates(l_paths, relevant, syms, R)
    pairs = [(c[:-1], c[-1]) for c in cands]
    rows = []
    for mode in modes:
        rel = path_relevances(paths, supports, pairs, mode)
        rows += [(c[0], c[1], mode, float(rel[c])) for c in cands]
    df = spark.createDataFrame(
        rows or [(0, 0, "", 0.0)], "p1 int, p2 int, mode string, relevance double")
    return (df if rows else df.limit(0)).withColumn(
        "relevance", F.round("relevance", 6))


def enumerate_paths(
    triples: DataFrame,
    R: int,
    min_sup: int = MIN_SUP,
    max_nnz: int = MAX_NNZ,
    max_depth: int = 2,
    max_paths_per_level: int | None = None,
    path_selection_mode: str = "inter",
    domains: dict[int, str] | None = None,
    ranges: dict[int, str] | None = None,
) -> PathIndex:
    """Path BFS with pruning (patybred.py:199-296); optional top-N beam
    per level by endpoint-overlap relevance (W5, patybred.py:244-253),
    ties broken by path tuple for determinism.

    ``domains``/``ranges`` (base relation id → type name) enable the P6
    domain/range-compatibility prune (patybred.py:73-95): a composition
    path ⊕ r2 is a candidate only if range(last) and domain(r2) are
    compatible (equal or either None). Inverses swap domain/range
    (patybred.py:191-196).
    """
    aug = materialize(augmented(triples, R).distinct())
    syms = symmetric_relations(triples)
    relevant = [p for p in range(1, 2 * R + 1) if not (p > R and (p - R) in syms)]

    dom: dict[int, str | None] = {p: None for p in range(1, 2 * R + 1)}
    ran: dict[int, str | None] = {p: None for p in range(1, 2 * R + 1)}
    for p in range(1, R + 1):
        d = (domains or {}).get(p)
        g = (ranges or {}).get(p)
        dom[p], ran[p] = d, g
        dom[p + R], ran[p + R] = g, d  # inverse swaps domain/range

    def compatible(last: int, r2: int) -> bool:
        a, b = ran[last], dom[r2]
        return a is None or b is None or a == b

    sup1 = {r["p"]: r["cnt"] for r in
            aug.groupBy("p").agg(F.count("*").alias("cnt")).collect()}

    # relevance-only singleton lookup over EVERY relevant relation (the
    # reference populates path_rowscols for all singletons regardless of
    # min-sup, patybred.py:206-219) — PathIndex.paths (the feature
    # registry) stays min-sup-gated below.
    sing_paths = {(p,): aug.where(F.col("p") == p).select("s", "o")
                  for p in relevant}
    sing_sups = {(p,): sup1.get(p, 0) for p in relevant}

    paths: dict[tuple[int, ...], DataFrame] = {}
    supports: dict[tuple[int, ...], int] = {}
    l_paths: list[tuple[int, ...]] = []
    for p in relevant:
        if sup1.get(p, 0) >= min_sup:
            paths[(p,)] = sing_paths[(p,)]
            supports[(p,)] = sup1[p]
            l_paths.append((p,))

    depth = 1
    while depth < max_depth and l_paths:
        candidates = _level_candidates(l_paths, relevant, syms, R, compatible)

        if (max_paths_per_level is not None
                and len(candidates) > max_paths_per_level):
            rel = path_relevances(
                {**sing_paths, **paths}, {**sing_sups, **supports},
                [(c[:-1], c[-1]) for c in candidates], path_selection_mode)
            candidates = sorted(
                candidates, key=lambda c: (-rel.get(c, 0.0), c)
            )[:max_paths_per_level]

        next_paths = []
        if candidates:
            # Batched support counting as ONE join (guide §2.4): tag each
            # prefix pair table with its pid, fan out to candidate pids
            # via a tiny broadcast (prefix, last, pid) map, then a single
            # equi-join keyed (last relation, middle entity) against aug
            # — 2 exchanges for the whole level instead of 2 per
            # candidate, and one groupBy('_pid') support count. The
            # prefix arms are cheap scans (filters of the materialized
            # aug / previous-level product table).
            spark = aug.sparkSession

            def _pid_of(path):
                return "_".join(map(str, path))

            cmap = spark.createDataFrame(
                [(_pid_of(new[:-1]), new[-1], _pid_of(new))
                 for new in candidates],
                "_pre string, _last int, _pid string")
            parts = []
            for pre in sorted({new[:-1] for new in candidates}):
                parts.append(paths[pre].select(
                    F.lit(_pid_of(pre)).alias("_pre"), "s", "o"))
            pref = parts[0]
            for q in parts[1:]:
                pref = pref.unionByName(q)
            exp = (
                pref.join(F.broadcast(cmap), "_pre")
                .select("_pid", F.col("_last").alias("_lp"), "s",
                        F.col("o").alias("_m"))
            )
            b = aug.select(F.col("p").alias("_lp"), F.col("s").alias("_m"),
                           F.col("o").alias("o"))
            allprod = (
                exp.join(b, ["_lp", "_m"])
                .select("_pid", "s", "o")
                .distinct()
            )
            allprod = materialize(allprod)
            counts = {r["_pid"]: r["cnt"] for r in
                      allprod.groupBy("_pid")
                      .agg(F.count("*").alias("cnt")).collect()}
            for new in candidates:
                pid = "_".join(map(str, new))
                nnz = counts.get(pid, 0)
                if min_sup <= nnz < max_nnz:
                    prod = allprod.where(F.col("_pid") == pid) \
                        .select("s", "o")
                    paths[new] = prod
                    supports[new] = nnz
                    next_paths.append(new)
                    # the reference registers BOTH the path and its
                    # inverse-reversed twin as features, the twin's pairs
                    # being the transpose of the computed product
                    # (reference patybred.py:273-276). The no-backtrack
                    # prune guarantees twin != new at this depth
                    # (p1 == inv(p2) was skipped).
                    twin = tuple(inv(i, R) for i in reversed(new))
                    paths[twin] = prod.select(
                        F.col("o").alias("s"), F.col("s").alias("o"))
                    supports[twin] = nnz
                    next_paths.append(twin)
        l_paths = next_paths
        depth += 1

    return PathIndex(R=R, paths=paths, supports=supports, syms=syms)


# ----------------------------------------------------------------- features


def path_membership(idx: PathIndex) -> DataFrame:
    """Union table (feat, s, o) of all path pairs; feat = stable string id.

    Materialized once per PathIndex: the union spans ~2·|paths| arms and
    is consumed by every fit/score/negatives call — caching the
    checkpointed table turns each later consumer into a single scan.
    """
    if idx._memb is not None:
        return idx._memb
    parts = []
    for path in idx.ordered:
        fid = "path_" + "_".join(map(str, path))
        parts.append(idx.paths[path].select(
            F.lit(fid).alias("feat"), "s", "o",
            F.lit(len(path) == 1).alias("_single"),
            F.lit(path[0]).alias("_p0"),
        ))
    out = parts[0]
    for q in parts[1:]:
        out = out.unionByName(q)
    idx._memb = materialize(out)
    return idx._memb


def path_endpoints(idx: PathIndex) -> DataFrame:
    """Union table (pid, e, side) of distinct path endpoints: side 'r' =
    subjects with an outgoing instance (matrix rows), 'c' = reachable
    objects (matrix cols) — the reference's ``path_rowscols``
    (patybred.py:277-285). Materialized once per PathIndex (same reuse
    argument as path_membership)."""
    if idx._endpoints is not None:
        return idx._endpoints
    parts = []
    for path in idx.ordered:
        pid = "_".join(map(str, path))
        df = idx.paths[path]
        parts.append(df.select(F.lit(pid).alias("pid"),
                               F.col("s").alias("e"),
                               F.lit("r").alias("side")).distinct())
        parts.append(df.select(F.lit(pid).alias("pid"),
                               F.col("o").alias("e"),
                               F.lit("c").alias("side")).distinct())
    out = parts[0]
    for q in parts[1:]:
        out = out.unionByName(q)
    idx._endpoints = materialize(out)
    return idx._endpoints


def features_long(facts: DataFrame, idx: PathIndex, types: DataFrame,
                  iorels: bool = False) -> DataFrame:
    """(s, p, o) facts → sparse boolean features (s, p, o, feat).

    Path features exclude the fact's own relation path (r,)
    (patybred.py:570-571); type features are st_<t> / ot_<t> (J4).

    ``iorels=True`` (J5, reference ``so_iorels_feat``,
    patybred.py:461-481, default off there too) adds the four
    in/out-degree-by-path memberships per path: os_/is_ for the subject
    being a row/col of the path, oo_/io_ for the object.
    """
    memb = path_membership(idx)
    pf = (
        facts.join(memb, ["s", "o"])
        .where(~(F.col("_single") & (F.col("_p0") == F.col("p"))))
        .select("s", "p", "o", "feat")
    )
    st = facts.join(types.withColumnRenamed("e", "s"), "s").select(
        "s", "p", "o", F.concat(F.lit("st_"), F.col("t")).alias("feat")
    )
    ot = facts.join(types.withColumnRenamed("e", "o"), "o").select(
        "s", "p", "o", F.concat(F.lit("ot_"), F.col("t")).alias("feat")
    )
    out = pf.unionByName(st).unionByName(ot)
    if iorels:
        ep = path_endpoints(idx)
        sf = facts.join(ep.withColumnRenamed("e", "s"), "s").select(
            "s", "p", "o",
            F.concat(F.when(F.col("side") == "r", F.lit("os_"))
                     .otherwise(F.lit("is_")), F.col("pid")).alias("feat"))
        of = facts.join(ep.withColumnRenamed("e", "o"), "o").select(
            "s", "p", "o",
            F.concat(F.when(F.col("side") == "r", F.lit("oo_"))
                     .otherwise(F.lit("io_")), F.col("pid")).alias("feat"))
        out = out.unionByName(sf).unionByName(of)
    return out


# ----------------------------------------------------------- training data


def sample_positives(triples: DataFrame, cap: int = MAX_POS_TRAIN) -> DataFrame:
    """Deterministic per-relation positive cap (patybred.py:495-499, R5).

    Uses the range-partitioned grouped ordinal rather than
    ``Window.partitionBy("p")`` — with a handful of relations each window
    partition would hold |triples|/R rows on one task; the range
    partitioner splits inside a relation because the sort key continues
    with the per-triple uniform.
    """
    from kgspark.ordering import grouped_ordinal

    t = triples.withColumn("_u", puniform(["s", "p", "o"], "pbsub"))
    t = grouped_ordinal(t, ["p"], ["_u", "s", "o"], out="_rn")
    return t.where(F.col("_rn") <= cap).drop("_u", "_rn")


def generate_negatives(pos: DataFrame, triples: DataFrame,
                       n_entities: int) -> DataFrame:
    """Deterministic corrupt-s-or-o negatives, rejected against the
    relation's positives (util.py:464-501, R1/U7)."""
    sel = pos.withColumn("side", pick_mod(["s", "p", "o"], 2, "pbside"))
    cand = sel.withColumn("a", F.explode(F.sequence(F.lit(0), F.lit(MAX_ATTEMPTS - 1))))
    cand = cand.withColumn(
        "cand", pick_mod(["s", "p", "o", "a"], n_entities, "pbneg") + 1
    )
    ns = F.when(F.col("side") == 0, F.col("cand")).otherwise(F.col("s"))
    no = F.when(F.col("side") == 1, F.col("cand")).otherwise(F.col("o"))
    cand = cand.select(
        F.col("s").alias("orig_s"), "p", F.col("o").alias("orig_o"),
        ns.alias("s"), no.alias("o"), "a",
    ).where((F.col("s") != F.col("orig_s")) | (F.col("o") != F.col("orig_o")))
    cand = cand.join(triples, ["s", "p", "o"], "left_anti")
    best = cand.groupBy("orig_s", "p", "orig_o").agg(F.min("a").alias("a"))
    return (
        cand.join(best, ["orig_s", "p", "orig_o", "a"])
        .select("s", "p", "o")
        .distinct()
    )


def generate_negatives_neighborhood(pos: DataFrame, triples: DataFrame,
                                    n_entities: int,
                                    p_random: float = 0.01) -> DataFrame:
    """R2: corrupt o with an object already seen with the same subject
    (1% fully random) — /root/reference/util.py:504-527, deterministic.

    The per-subject candidate pool is the distinct (s, o) table numbered
    by the grouped ordinal and joined on (s, hash-picked index) — no
    collect_set arrays replicated per row, so hot subjects (a mega-repo's
    ``contains``) never materialize their whole out-neighborhood in one
    cell. Collisions with true triples rejected via bounded attempts
    (same machinery as kind-1).
    """
    from kgspark.ordering import grouped_ordinal

    pool = triples.select("s", "o").distinct()
    gsz = pool.groupBy("s").agg(F.count("*").alias("gsz"))
    members = grouped_ordinal(pool, ["s"], ["o"], out="_midx")
    sel = pos.join(gsz, "s")
    cand = sel.withColumn("a", F.explode(F.sequence(F.lit(0), F.lit(MAX_ATTEMPTS - 1))))
    use_random = puniform(["s", "p", "o"], "nbrand") < p_random
    idx = pick_mod(["s", "p", "o", "a"], F.col("gsz"), "nbneg") + 1
    cand = cand.withColumn("_midx", idx.cast("long")).join(
        members.select("s", "_midx", F.col("o").alias("_pick")), ["s", "_midx"])
    picked = F.when(use_random,
                    pick_mod(["s", "p", "o", "a"], n_entities, "nbneg") + 1) \
        .otherwise(F.col("_pick"))
    cand = cand.select(
        "s", "p", F.col("o").alias("orig_o"), "a", picked.alias("o")
    ).where(F.col("o") != F.col("orig_o"))
    cand = cand.join(triples, ["s", "p", "o"], "left_anti")
    best = cand.groupBy("s", "p", "orig_o").agg(F.min("a").alias("a"))
    return (cand.join(best, ["s", "p", "orig_o", "a"])
            .select("s", "p", "o").distinct())


PRA_EXP_BASE = 1.25
PRA_MAX_RANK = 100_000


def pra_positions(exp_base: float = PRA_EXP_BASE,
                  max_rank: int = PRA_MAX_RANK) -> list[int]:
    """Exponentially-spaced 1-based ranks ⌊k·base^k⌋ (util.py:534-546)."""
    out, k = [], 1
    while True:
        i = int(k * exp_base**k)
        if i >= max_rank:
            return sorted({x + 1 for x in out})
        out.append(i)
        k += 1


def generate_negatives_pra(triples: DataFrame, idx: PathIndex) -> DataFrame:
    """R3: PRA-style hard negatives — /root/reference/util.py:530-569.

    For each (relation, subject): score candidate objects by the number of
    feature paths (excluding the relation's own) connecting subject →
    candidate; drop true objects; keep candidates at exponentially-spaced
    ranks. Deterministic variant: positives are excluded BEFORE ranking
    (the reference keeps them in the ranking and skips forward); ties
    break by candidate id. The zero-score random tail is not sampled.
    """
    memb = path_membership(idx)
    subjects = triples.select("p", "s").distinct()
    scored = (
        subjects.join(memb, "s")
        .where(~(F.col("_single") & (F.col("_p0") == F.col("p"))))
        .groupBy("p", "s", "o")
        .agg(F.count("*").alias("score"))
    )
    from kgspark.ordering import grouped_ordinal

    scored = scored.join(triples, ["s", "p", "o"], "left_anti")
    # range-partitioned per-(p, s) ordinal instead of
    # Window.partitionBy("p", "s"): a hot subject's full candidate set
    # (every object reachable by any feature path — O(out-neighborhood²)
    # rows for a mega-repo) never lands on a single task; ranks reach
    # PRA_MAX_RANK=100k so a pre-filter can't bound the group.
    scored = scored.withColumn("_ns", -F.col("score"))
    ranked = grouped_ordinal(scored, ["p", "s"], ["_ns", "o"], out="_rnk")
    pos_list = pra_positions()
    return (
        ranked.where(F.col("_rnk").isin(pos_list))
        .select("s", "p", "o")
    )


def negatives_pra_sql(triples_cte: str, R: int = 4) -> str:
    from kgspark.typesys import kg_ctes

    pos_list = ", ".join(map(str, pra_positions()))
    return f"""
WITH {kg_ctes(triples_cte)}, {paths_ctes(R)}, {memb_ctes(R)},
subj AS (SELECT DISTINCT p, s FROM enc),
sc AS (
  SELECT subj.p, subj.s, memb.o, count(*) AS score
  FROM subj JOIN memb ON memb.s = subj.s
  WHERE NOT (memb.single AND memb.p0 = subj.p)
  GROUP BY subj.p, subj.s, memb.o),
sc2 AS (
  SELECT sc.* FROM sc
  WHERE NOT EXISTS (SELECT 1 FROM enc
                    WHERE enc.s = sc.s AND enc.p = sc.p AND enc.o = sc.o)),
rk AS (SELECT *, row_number() OVER (PARTITION BY p, s ORDER BY score DESC, o) AS rnk
       FROM sc2)
SELECT s, p, o FROM rk WHERE rnk IN ({pos_list})
"""


# ----------------------------------------------------------------- training


def _chi2_topk(X: np.ndarray, y: np.ndarray, feat_names: list[str],
               k: int) -> list[int]:
    """Deterministic chi2 SelectKBest (M2) — the reference's default
    feature-selection measure (/root/reference/patybred.py:382-400,
    sklearn chi2 + SelectKBest). sklearn computes the statistic from the
    presence-only contingency: observed per class = class-wise feature
    sums, expected = feature total × class prior. sklearn is absent here,
    so the identical formula runs in numpy, with ties broken by feature
    name (sklearn's argsort order is unspecified on ties). Returns the
    kept column indices in ascending order.
    """
    p1 = float(y.mean())
    tot = X.sum(axis=0)
    obs1 = X[y == 1].sum(axis=0)
    obs0 = tot - obs1
    exp1, exp0 = tot * p1, tot * (1.0 - p1)
    with np.errstate(divide="ignore", invalid="ignore"):
        chi = (np.where(exp0 > 0, (obs0 - exp0) ** 2 / exp0, 0.0)
               + np.where(exp1 > 0, (obs1 - exp1) ** 2 / exp1, 0.0))
    order = sorted(range(len(feat_names)),
                   key=lambda j: (-chi[j], feat_names[j]))
    return sorted(order[:k])


def _fit_group(pdf: pd.DataFrame, max_feats: int | None = None) -> pd.DataFrame:
    """Deterministic L2 logistic regression on one relation's batch.

    Input rows: (p, s, o, label, feats: list[str]). Output long weights:
    (p, feat, w) with feat='_bias' carrying the intercept.

    ``max_feats`` enables the reference's M2 feature selection: chi2
    top-k when the relation's feature space exceeds the cap
    (/root/reference/patybred.py:385-400); None = no selection (the
    reference shape when n_feats ≤ max_feats).
    """
    p = int(pdf["p"].iloc[0])
    pdf = pdf.sort_values(["label", "s", "o"]).reset_index(drop=True)
    rows = [list(r) if r is not None else [] for r in pdf["feats"]]
    feat_set = sorted({f for r in rows for f in r})
    if not feat_set or pdf["label"].nunique() < 2:
        # degenerate: no features or single-class → no model (scores 0.0)
        return pd.DataFrame({"p": pd.Series([], dtype="int32"),
                             "feat": pd.Series([], dtype="object"),
                             "w": pd.Series([], dtype="float64")})
    fidx = {f: i for i, f in enumerate(feat_set)}
    X = np.zeros((len(pdf), len(feat_set)))
    for i, r in enumerate(rows):
        for f in r:
            X[i, fidx[f]] = 1.0
    y = pdf["label"].to_numpy(dtype=np.float64)
    if max_feats is not None and X.shape[1] > max_feats:
        keep = _chi2_topk(X, y, feat_set, max_feats)
        X = X[:, keep]
        feat_set = [feat_set[j] for j in keep]
    w = np.zeros(X.shape[1])
    b = 0.0
    n = float(len(y))
    for _ in range(LR_ITERS):
        z = X @ w + b
        pr = 1.0 / (1.0 + np.exp(-z))
        g = X.T @ (pr - y) / n + LR_L2 * w
        gb = float(np.sum(pr - y) / n)
        w -= LR_RATE * g
        b -= LR_RATE * gb
    out = pd.DataFrame({"p": p, "feat": feat_set, "w": w})
    return pd.concat(
        [out, pd.DataFrame({"p": [p], "feat": ["_bias"], "w": [b]})],
        ignore_index=True,
    )


def fit_models(triples: DataFrame, idx: PathIndex, types: DataFrame,
               n_entities: int, iorels: bool = False,
               max_feats: int | None = None) -> DataFrame:
    """Per-relation classifier fit via applyInPandas (M1) → (p, feat, w).

    ``iorels`` adds the J5 degree-by-path features (multiplying the
    feature space ~4× per path); ``max_feats`` triggers the M2 chi2
    selection above the cap."""
    pos = sample_positives(triples)
    neg = generate_negatives(pos, triples, n_entities)
    # checkpoint the training set: it feeds the feature join AND the
    # labeled-row join — the positives-sampling + negative-generation
    # chain would otherwise execute once per consumer subtree
    train = materialize(pos.withColumn("label", F.lit(1)).unionByName(
        neg.withColumn("label", F.lit(0))
    ))
    fl = features_long(train.select("s", "p", "o"), idx, types, iorels)
    rows = (
        train.join(
            fl.groupBy("s", "p", "o").agg(F.collect_set("feat").alias("feats")),
            ["s", "p", "o"], "left",
        )
    )
    return materialize(
        rows.groupBy("p").applyInPandas(
            lambda pdf: _fit_group(pdf, max_feats),
            "p int, feat string, w double"
        )
    )


def score_facts(facts: DataFrame, idx: PathIndex, types: DataFrame,
                models: DataFrame, iorels: bool = False) -> DataFrame:
    """(s,p,o) → (s,p,o,score): sigmoid(bias_p + Σ active weights) (M3).

    Pure joins + aggregates: the weights table is tiny (broadcast); the
    only shuffle is the (s,p,o) grouping. Facts of relations without a
    model score 0.0 (patybred.py:536-537).
    """
    weights = models.where(F.col("feat") != "_bias")
    bias = models.where(F.col("feat") == "_bias").select(
        "p", F.col("w").alias("bias")
    )
    has_model = bias.select("p").distinct().withColumn("_hm", F.lit(True))

    fl = features_long(facts, idx, types, iorels)
    dot = (
        fl.join(F.broadcast(weights), ["p", "feat"], "left")
        .groupBy("s", "p", "o")
        .agg(F.sum(F.coalesce("w", F.lit(0.0))).alias("dot"))
    )
    scored = (
        facts.join(dot, ["s", "p", "o"], "left")
        .join(F.broadcast(bias), "p", "left")
        .join(F.broadcast(has_model), "p", "left")
    )
    z = F.coalesce("dot", F.lit(0.0)) + F.coalesce("bias", F.lit(0.0))
    return scored.select(
        "s", "p", "o",
        F.when(F.col("_hm").isNull(), F.lit(0.0))
        .otherwise(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)))
        .alias("score"),
    )


# ------------------------------------------------------- decision tree (M1 'dt')

DT_MAX_DEPTH = 4
DT_MIN_LEAF = 1


def _gini_tree(X: np.ndarray, y: np.ndarray, feat_names: list[str],
               max_depth: int = DT_MAX_DEPTH, min_leaf: int = DT_MIN_LEAF):
    """Deterministic CART-gini tree over BOOLEAN features → leaf list.

    The reference's clf factory offers 'dt' via sklearn DecisionTree
    (/root/reference/patybred.py:366-380); sklearn is absent here, so this
    is an equivalent numpy tree with fully deterministic tie-breaks
    (lowest feature index wins equal gini). Boolean features make each
    split "feature absent → left, present → right", so a leaf IS a
    conjunction of required/forbidden features — exactly the shape the
    SHACL compiler consumes (/root/reference/shacl-sparql.py:64-160).

    Returns [(feats_true, feats_false, prob, n)] — prob = positive share.
    """
    leaves: list[tuple[list[str], list[str], float, int]] = []

    def gini(yv: np.ndarray) -> float:
        if len(yv) == 0:
            return 0.0
        q = float(yv.mean())
        return 2.0 * q * (1.0 - q)

    def rec(rows: np.ndarray, req: list[str], forb: list[str], depth: int):
        yv = y[rows]
        parent = gini(yv)
        if depth >= max_depth or parent == 0.0 or len(rows) < 2 * min_leaf:
            leaves.append((sorted(req), sorted(forb), float(yv.mean()),
                           int(len(rows))))
            return
        n = float(len(rows))
        best_j, best_g = -1, parent - 1e-12
        for j in range(X.shape[1]):
            mask = X[rows, j] > 0
            n1 = int(mask.sum())
            n0 = int(len(rows)) - n1
            if n1 < min_leaf or n0 < min_leaf:
                continue
            g = (n1 * gini(yv[mask]) + n0 * gini(yv[~mask])) / n
            if g < best_g:
                best_j, best_g = j, g
        if best_j < 0:
            leaves.append((sorted(req), sorted(forb), float(yv.mean()),
                           int(len(rows))))
            return
        mask = X[rows, best_j] > 0
        f = feat_names[best_j]
        rec(rows[~mask], req, forb + [f], depth + 1)
        rec(rows[mask], req + [f], forb, depth + 1)

    rec(np.arange(len(y)), [], [], 0)
    return leaves


def _fit_group_dt(pdf: pd.DataFrame,
                  max_feats: int | None = None) -> pd.DataFrame:
    """Per-relation decision-tree fit (same batch shape as _fit_group).

    Output long leaves: (p, leaf, prob, n, feats_true, feats_false).
    ``max_feats`` = chi2 top-k feature selection, as in _fit_group."""
    p = int(pdf["p"].iloc[0])
    pdf = pdf.sort_values(["label", "s", "o"]).reset_index(drop=True)
    rows = [list(r) if r is not None else [] for r in pdf["feats"]]
    feat_set = sorted({f for r in rows for f in r})
    empty = pd.DataFrame({
        "p": pd.Series([], dtype="int32"),
        "leaf": pd.Series([], dtype="int32"),
        "prob": pd.Series([], dtype="float64"),
        "n": pd.Series([], dtype="int64"),
        "feats_true": pd.Series([], dtype="object"),
        "feats_false": pd.Series([], dtype="object"),
    })
    if not feat_set or pdf["label"].nunique() < 2:
        return empty
    fidx = {f: i for i, f in enumerate(feat_set)}
    X = np.zeros((len(pdf), len(feat_set)))
    for i, r in enumerate(rows):
        for f in r:
            X[i, fidx[f]] = 1.0
    y = pdf["label"].to_numpy(dtype=np.float64)
    if max_feats is not None and X.shape[1] > max_feats:
        keep = _chi2_topk(X, y, feat_set, max_feats)
        X = X[:, keep]
        feat_set = [feat_set[j] for j in keep]
    leaves = _gini_tree(X, y, feat_set)
    return pd.DataFrame({
        "p": p,
        "leaf": range(len(leaves)),
        "prob": [lv[2] for lv in leaves],
        "n": [lv[3] for lv in leaves],
        "feats_true": [lv[0] for lv in leaves],
        "feats_false": [lv[1] for lv in leaves],
    })


DT_SCHEMA = ("p int, leaf int, prob double, n long, "
             "feats_true array<string>, feats_false array<string>")


def fit_models_dt(triples: DataFrame, idx: PathIndex, types: DataFrame,
                  n_entities: int, iorels: bool = False,
                  max_feats: int | None = None) -> DataFrame:
    """Per-relation DT fit (M1 clf='dt') → leaf table (tiny: ≤ 2^depth
    rows per relation)."""
    pos = sample_positives(triples)
    neg = generate_negatives(pos, triples, n_entities)
    # checkpoint the training set (see fit_models)
    train = materialize(pos.withColumn("label", F.lit(1)).unionByName(
        neg.withColumn("label", F.lit(0))
    ))
    fl = features_long(train.select("s", "p", "o"), idx, types, iorels)
    rows = train.join(
        fl.groupBy("s", "p", "o").agg(F.collect_set("feat").alias("feats")),
        ["s", "p", "o"], "left",
    )
    return materialize(rows.groupBy("p").applyInPandas(
        lambda pdf: _fit_group_dt(pdf, max_feats), DT_SCHEMA))


def score_facts_dt(facts: DataFrame, idx: PathIndex, types: DataFrame,
                   dt_models: DataFrame, iorels: bool = False) -> DataFrame:
    """(s,p,o) → (s,p,o,score) by routing each fact to its (unique) leaf.

    The leaf table partitions the feature space per relation, so the
    broadcast join + forall/exists array predicates match exactly one leaf
    per fact — all JVM-side; the only shuffle is the feature grouping.
    Relations without a model score 0.0 (patybred.py:536-537)."""
    fl = features_long(facts, idx, types, iorels)
    active = facts.join(
        fl.groupBy("s", "p", "o").agg(F.collect_set("feat").alias("_feats")),
        ["s", "p", "o"], "left",
    ).withColumn("_feats", F.coalesce(
        "_feats", F.array().cast("array<string>")))
    match = (
        F.forall("feats_true", lambda f: F.array_contains("_feats", f))
        & (~F.exists("feats_false", lambda f: F.array_contains("_feats", f)))
    )
    hit = (
        active.join(F.broadcast(dt_models), "p")
        .where(match)
        .select("s", "p", "o", F.col("prob").alias("_prob"))
    )
    return facts.join(hit, ["s", "p", "o"], "left").select(
        "s", "p", "o",
        F.coalesce("_prob", F.lit(0.0)).alias("score"),
    )


def patybred_dt_ranked(spark: SparkSession, sf_dir: str,
                       p_error: float = 0.05) -> DataFrame:
    """patybred_ranked with the decision-tree classifier (clf='dt')."""
    return pb_bundle(spark, sf_dir, p_error, clf="dt").ranked


# ------------------------------------------------------------ end-to-end


def pb_bundle(spark: SparkSession, sf_dir: str, p_error: float = 0.05,
              clf: str = "lgr", kind: int = 1, variant: str = "base",
              replace: bool = False, iorels: bool = False,
              max_feats: int | None = None):
    """Noisy graph → fit → score → rank: the pipeline chain with the
    PaTyBRED scorer on the session's in-memory store, so the driver's
    ranked/metrics/corrections queries over the same noisy graph share
    one path BFS and one fit (→ ``pipeline.Detection``)."""
    from kgspark import pipeline

    return pipeline.in_memory(
        spark, sf_dir, variant, p_error=p_error, kind=kind, replace=replace,
        method="patybred", clf=clf, iorels=iorels, max_feats=max_feats)


def patybred_ranked(spark: SparkSession, sf_dir: str,
                    p_error: float = 0.05) -> DataFrame:
    """Noisy graph → PaTyBRED score → ordinal rank (detect_errors analog)."""
    return pb_bundle(spark, sf_dir, p_error, clf="lgr").ranked


def patybred_metrics(spark: SparkSession, sf_dir: str,
                     p_error: float = 0.05) -> DataFrame:
    from kgspark import pipeline

    return pipeline.metrics(patybred_ranked(spark, sf_dir, p_error))


# ---------------------------------------------------------------- SQL (oracle)

# The fixed 4-predicate vocabulary makes R a constant for oracle strings.
R_CONST = 4


def _inv_sql(col: str, R: int) -> str:
    return f"CASE WHEN {col} > {R} THEN {col} - {R} ELSE {col} + {R} END"


def paths_ctes(R: int = R_CONST, min_sup: int = MIN_SUP,
               max_nnz: int = MAX_NNZ, rel: str = "enc",
               domran: bool = False) -> str:
    """CTE chain after kg_ctes: aug, syms, singles, cand2, pp2, paths2.

    ``rel`` names the fact table the paths are enumerated over (``enc``
    for the clean graph; ``noisyf`` in the end-to-end PaTyBRED oracle,
    which enumerates over the error-injected graph like the Spark path).

    ``domran=True`` adds the P6 domain/range-compatibility prune to the
    candidate stage (reference patybred.py:73-95): range(p1) must equal
    domain(p2) unless either is undeclared; inverse relations swap
    domain and range (patybred.py:191-196). Requires the ``rel`` dim
    from kg_ctes (relation names → the static DOMAINS/RANGES vocab)."""
    if domran:
        from kgspark.hierarchy import DOMAINS, RANGES
        dr_vals = ", ".join(
            f"('{k}', '{DOMAINS[k]}', '{RANGES[k]}')" for k in sorted(DOMAINS))
        dr_ctes = f"""
drmap(rname, dm, rn) AS (VALUES {dr_vals}),
dr AS (
  SELECT CAST(rel.id AS INT) AS p, drmap.dm AS dom, drmap.rn AS ran
  FROM rel LEFT JOIN drmap ON drmap.rname = rel.name
  UNION ALL
  SELECT CAST(rel.id + {R} AS INT), drmap.rn, drmap.dm
  FROM rel LEFT JOIN drmap ON drmap.rname = rel.name),"""
        compat = (" AND (d1.ran IS NULL OR d2.dom IS NULL"
                  " OR d1.ran = d2.dom)")
        dr_join = " JOIN dr d1 ON d1.p = a.p JOIN dr d2 ON d2.p = b.p"
    else:
        dr_ctes, compat, dr_join = "", "", ""
    return f"""{dr_ctes}
aug AS (SELECT DISTINCT s, p, o FROM (
  SELECT s, p, o FROM {rel}
  UNION ALL
  SELECT o AS s, p + {R} AS p, s AS o FROM {rel})),
syms AS (
  SELECT p FROM (SELECT DISTINCT p FROM {rel}) rp
  WHERE NOT EXISTS (
    SELECT 1 FROM {rel} t WHERE t.p = rp.p
      AND NOT EXISTS (SELECT 1 FROM {rel} t2
                      WHERE t2.p = t.p AND t2.s = t.o AND t2.o = t.s))),
rels2 AS (
  SELECT p FROM (SELECT DISTINCT p FROM aug) x
  WHERE NOT (p > {R} AND (p - {R}) IN (SELECT p FROM syms))),
singles AS (
  SELECT aug.p, count(*) AS support FROM aug
  JOIN rels2 ON rels2.p = aug.p
  GROUP BY aug.p HAVING count(*) >= {min_sup}),
c0 AS (
  SELECT a.p AS p1, b.p AS p2
  FROM singles a CROSS JOIN rels2 b{dr_join}
  WHERE a.p <> {_inv_sql('b.p', R)}
    AND NOT (a.p = b.p AND b.p IN (SELECT p FROM syms)){compat}),
cand2 AS (
  SELECT p1, p2 FROM c0
  WHERE NOT EXISTS (
    SELECT 1 FROM c0 r
    WHERE r.p1 = {_inv_sql('c0.p2', R)} AND r.p2 = {_inv_sql('c0.p1', R)}
      AND (r.p1 < c0.p1 OR (r.p1 = c0.p1 AND r.p2 < c0.p2)))),
pp2 AS (
  SELECT c.p1, c.p2, a.s, b.o
  FROM cand2 c JOIN aug a ON a.p = c.p1 JOIN aug b ON b.p = c.p2 AND b.s = a.o
  GROUP BY c.p1, c.p2, a.s, b.o),
paths2 AS (
  SELECT p1, p2, count(*) AS support FROM pp2 GROUP BY p1, p2
  HAVING count(*) >= {min_sup} AND count(*) < {max_nnz})
"""


def negatives_nbh_sql(triples_cte: str, R: int = R_CONST,
                      cap: int = MAX_POS_TRAIN,
                      p_random: float = 0.01) -> str:
    """Exact oracle for generate_negatives_neighborhood (R2): the
    per-subject candidate pool numbered by (s, o) order, hash-picked
    index join, 1% fully-random branch, bounded-attempt rejection."""
    from kgspark.hashing import sql_phash32, sql_puniform
    from kgspark.typesys import kg_ctes

    key_sub = ("concat_ws('|', 'pbsub', CAST(s AS VARCHAR), "
               "CAST(p AS VARCHAR), CAST(o AS VARCHAR))")
    key_rand = ("concat_ws('|', 'nbrand', CAST(s AS VARCHAR), "
                "CAST(p AS VARCHAR), CAST(o AS VARCHAR))")
    key_neg = ("concat_ws('|', 'nbneg', CAST(s AS VARCHAR), "
               "CAST(p AS VARCHAR), CAST(o AS VARCHAR), "
               "CAST(a AS VARCHAR))")
    return f"""
WITH {kg_ctes(triples_cte)},
ne AS (SELECT count(*) AS n FROM ent),
pos AS (
  SELECT s, p, o FROM (
    SELECT s, p, o, row_number() OVER (
      PARTITION BY p ORDER BY {sql_puniform(key_sub, 'duckdb')}, s, o) AS rn
    FROM enc) x WHERE rn <= {cap}),
npool AS (SELECT DISTINCT s, o FROM enc),
ngsz AS (SELECT s, count(*) AS gsz FROM npool GROUP BY s),
nmem AS (SELECT s, o, row_number() OVER (PARTITION BY s ORDER BY o) AS midx
         FROM npool),
nbsel AS (SELECT pos.*, ngsz.gsz FROM pos JOIN ngsz ON ngsz.s = pos.s),
nbatt AS (
  SELECT nbsel.*, a FROM nbsel,
    (SELECT unnest(generate_series(0, {MAX_ATTEMPTS - 1})) AS a) ats),
nbidx AS (
  SELECT s, p, o, a, gsz,
         ({sql_phash32(key_neg, 'duckdb')} % gsz) + 1 AS midx,
         {sql_puniform(key_rand, 'duckdb')} < {p_random} AS ur,
         ({sql_phash32(key_neg, 'duckdb')} % (SELECT n FROM ne)) + 1 AS rnd
  FROM nbatt),
nbpick AS (
  SELECT nbidx.s, nbidx.p, nbidx.o AS orig_o, nbidx.a,
         CASE WHEN nbidx.ur THEN nbidx.rnd ELSE nmem.o END AS o
  FROM nbidx JOIN nmem ON nmem.s = nbidx.s AND nmem.midx = nbidx.midx),
nbvalid AS (
  SELECT * FROM nbpick
  WHERE o <> orig_o
    AND NOT EXISTS (SELECT 1 FROM enc
                    WHERE enc.s = nbpick.s AND enc.p = nbpick.p
                      AND enc.o = nbpick.o)),
nbbest AS (SELECT s, p, orig_o, min(a) AS a FROM nbvalid
           GROUP BY s, p, orig_o)
SELECT DISTINCT v.s, v.p, v.o
FROM nbvalid v JOIN nbbest USING (s, p, orig_o, a)
"""


def paths_depth2_beam_sql(triples_cte: str, beam: int,
                          R: int = R_CONST, min_sup: int = MIN_SUP,
                          max_nnz: int = MAX_NNZ) -> str:
    """Oracle for enumerate_paths with a top-N beam per level (W5,
    path_selection_mode='inter'): depth-2 candidates are ranked by the
    endpoint-overlap relevance |cols(p1) ∩ rows(p2)| (reference
    patybred.py:97-138, mode 'inter'; zero-overlap candidates rank 0),
    ties broken by the path tuple, and only the top ``beam`` compose —
    exactly the Spark-side pruning order."""
    from kgspark.typesys import kg_ctes

    ip1, ip2 = _inv_sql("p1", R), _inv_sql("p2", R)
    return f"""
WITH {kg_ctes(triples_cte)}, {paths_ctes(R, min_sup, max_nnz)},
crel AS (
  SELECT c.p1, c.p2,
         (SELECT count(DISTINCT a.o) FROM aug a
          WHERE a.p = c.p1
            AND EXISTS (SELECT 1 FROM aug b
                        WHERE b.p = c.p2 AND b.s = a.o)) AS rel
  FROM cand2 c),
keepc AS (
  SELECT p1, p2 FROM (
    SELECT p1, p2,
           row_number() OVER (ORDER BY rel DESC, p1, p2) AS rn
    FROM crel) z WHERE rn <= {beam}),
bpp2 AS (
  SELECT c.p1, c.p2, a.s, b.o
  FROM keepc c JOIN aug a ON a.p = c.p1
  JOIN aug b ON b.p = c.p2 AND b.s = a.o
  GROUP BY c.p1, c.p2, a.s, b.o),
bpaths2 AS (
  SELECT p1, p2, count(*) AS support FROM bpp2 GROUP BY p1, p2
  HAVING count(*) >= {min_sup} AND count(*) < {max_nnz})
SELECT p1, p2, support FROM bpaths2
UNION ALL SELECT {ip2} AS p1, {ip1} AS p2, support FROM bpaths2
"""


def memb_ctes(R: int = R_CONST) -> str:
    """Shared path-membership CTE (``memb``), appended after paths_ctes.

    Three arms: depth-1 singles, kept depth-2 paths, and their
    inverse-reversed twins over the transposed pairs (reference
    patybred.py:273-276)."""
    ip1, ip2 = _inv_sql("p1", R), _inv_sql("p2", R)
    return f"""
memb AS (
  SELECT 'path_' || CAST(p AS VARCHAR) AS feat, s, o, TRUE AS single, p AS p0
  FROM aug JOIN singles USING (p)
  UNION ALL
  SELECT 'path_' || CAST(p1 AS VARCHAR) || '_' || CAST(p2 AS VARCHAR),
         s, o, FALSE, 0
  FROM pp2 JOIN paths2 USING (p1, p2)
  UNION ALL
  SELECT 'path_' || CAST({ip2} AS VARCHAR) || '_' || CAST({ip1} AS VARCHAR),
         o AS s, s AS o, FALSE, 0
  FROM pp2 JOIN paths2 USING (p1, p2))
"""


def paths_depth2_sql(triples_cte: str, R: int = R_CONST) -> str:
    from kgspark.typesys import kg_ctes

    ip1, ip2 = _inv_sql("p1", R), _inv_sql("p2", R)
    return (f"WITH {kg_ctes(triples_cte)}, {paths_ctes(R)} "
            "SELECT p1, p2, support FROM paths2 "
            f"UNION ALL SELECT {ip2} AS p1, {ip1} AS p2, support FROM paths2")


def paths_depth2_pruned_sql(triples_cte: str, R: int = R_CONST) -> str:
    """Oracle for enumerate_paths under the P6 domain/range prune
    (reference patybred.py:73-95): same shape as paths_depth2_sql, but
    incompatible compositions never become candidates."""
    from kgspark.typesys import kg_ctes

    ip1, ip2 = _inv_sql("p1", R), _inv_sql("p2", R)
    return (f"WITH {kg_ctes(triples_cte)}, {paths_ctes(R, domran=True)} "
            "SELECT p1, p2, support FROM paths2 "
            f"UNION ALL SELECT {ip2} AS p1, {ip1} AS p2, support FROM paths2")


def relevance_sql(triples_cte: str, R: int = R_CONST) -> str:
    """Oracle for :func:`relevance_table` (J2, reference
    patybred.py:97-138): per depth-2 candidate and mode —
    random → 1, mult → support(p1)·support(p2), inter → |cols(p1)∩rows(p2)|,
    m1 → inter/(|rows(p1)∩cols(p2)|+1), m2 → inter·|rows(p1)∪cols(p2)|;
    all 0 when the composing endpoint sets don't intersect."""
    from kgspark.typesys import kg_ctes

    return f"""
WITH {kg_ctes(triples_cte)}, {paths_ctes(R)},
colset AS (SELECT DISTINCT p, o AS e FROM aug),
rowset AS (SELECT DISTINCT p, s AS e FROM aug),
rinter AS (
  SELECT c.p1, c.p2, count(*) AS i
  FROM cand2 c JOIN colset a ON a.p = c.p1
  JOIN rowset b ON b.p = c.p2 AND b.e = a.e
  GROUP BY c.p1, c.p2),
rx1 AS (
  SELECT c.p1, c.p2, count(*) AS x
  FROM cand2 c JOIN rowset a ON a.p = c.p1
  JOIN colset b ON b.p = c.p2 AND b.e = a.e
  GROUP BY c.p1, c.p2),
rx2 AS (
  SELECT p1, p2, count(*) AS x FROM (
    SELECT c.p1, c.p2, a.e FROM cand2 c JOIN rowset a ON a.p = c.p1
    UNION
    SELECT c.p1, c.p2, b.e FROM cand2 c JOIN colset b ON b.p = c.p2)
  GROUP BY p1, p2),
rsupall AS (
  SELECT aug.p, count(*) AS support FROM aug
  JOIN rels2 ON rels2.p = aug.p GROUP BY aug.p),
rbase AS (
  SELECT c.p1, c.p2,
         coalesce(rinter.i, 0) AS i,
         coalesce(rx1.x, 0) AS x1v,
         coalesce(rx2.x, 0) AS x2v,
         sa.support AS s1, sb.support AS s2
  FROM cand2 c
  LEFT JOIN rinter ON rinter.p1 = c.p1 AND rinter.p2 = c.p2
  LEFT JOIN rx1 ON rx1.p1 = c.p1 AND rx1.p2 = c.p2
  LEFT JOIN rx2 ON rx2.p1 = c.p1 AND rx2.p2 = c.p2
  -- p1 is always a min-sup seed (c0 builds from `singles`), but p2
  -- ranges over ALL relevant relations: its support must come from the
  -- un-gated table or sub-min-sup candidates silently drop (the Spark
  -- side, like the reference, computes their relevance)
  JOIN singles sa ON sa.p = c.p1 JOIN rsupall sb ON sb.p = c.p2)
SELECT p1, p2, mode, round(relevance, 6) AS relevance FROM (
  SELECT p1, p2, 'random' AS mode,
         CASE WHEN i > 0 THEN 1.0 ELSE 0.0 END AS relevance FROM rbase
  UNION ALL
  SELECT p1, p2, 'mult',
         CASE WHEN i > 0 THEN CAST(s1 * s2 AS DOUBLE) ELSE 0.0 END FROM rbase
  UNION ALL
  SELECT p1, p2, 'inter', CAST(i AS DOUBLE) FROM rbase
  UNION ALL
  SELECT p1, p2, 'm1',
         CASE WHEN i > 0 THEN i / (x1v + 1.0) ELSE 0.0 END FROM rbase
  UNION ALL
  SELECT p1, p2, 'm2',
         CASE WHEN i > 0 THEN CAST(i * x2v AS DOUBLE) ELSE 0.0 END FROM rbase)
"""


def relation_support_sql(triples_cte: str) -> str:
    from kgspark.typesys import kg_ctes

    return (f"WITH {kg_ctes(triples_cte)} "
            "SELECT p, count(*) AS support FROM enc GROUP BY p")


def negatives_ctes(R: int = R_CONST, cap: int = MAX_POS_TRAIN,
                   rel: str = "enc", with_ne: bool = True) -> str:
    """CTE chain after kg_ctes: pos (capped positives), negs.

    ``with_ne=False`` skips the ``ne`` entity-count CTE when the composed
    query already defines it (errors_kind1_ctes does)."""
    from kgspark.hashing import sql_phash32, sql_puniform

    key_sub = ("concat_ws('|', 'pbsub', CAST(s AS VARCHAR), CAST(p AS VARCHAR), "
               "CAST(o AS VARCHAR))")
    key_side = key_sub.replace("'pbsub'", "'pbside'")
    key_neg = ("concat_ws('|', 'pbneg', CAST(s AS VARCHAR), CAST(p AS VARCHAR), "
               "CAST(o AS VARCHAR), CAST(a AS VARCHAR))")
    ne_cte = "ne AS (SELECT count(*) AS n FROM ent),\n" if with_ne else ""
    return f"""
{ne_cte}pos AS (
  SELECT s, p, o FROM (
    SELECT s, p, o, row_number() OVER (
      PARTITION BY p ORDER BY {sql_puniform(key_sub, 'duckdb')}, s, o) AS rn
    FROM {rel}) x WHERE rn <= {cap}),
nsel AS (
  SELECT s, p, o, {sql_phash32(key_side, 'duckdb')} % 2 AS side FROM pos),
natt AS (
  SELECT nsel.*, a FROM nsel,
    (SELECT unnest(generate_series(0, {MAX_ATTEMPTS - 1})) AS a) ats),
ncand AS (
  SELECT s AS orig_s, p, o AS orig_o, a,
    CASE WHEN side = 0
      THEN ({sql_phash32(key_neg, 'duckdb')} % (SELECT n FROM ne)) + 1
      ELSE s END AS s,
    CASE WHEN side = 1
      THEN ({sql_phash32(key_neg, 'duckdb')} % (SELECT n FROM ne)) + 1
      ELSE o END AS o
  FROM natt),
nvalid AS (
  SELECT * FROM ncand
  WHERE (s <> orig_s OR o <> orig_o)
    AND NOT EXISTS (SELECT 1 FROM {rel}
                    WHERE {rel}.s = ncand.s AND {rel}.p = ncand.p AND {rel}.o = ncand.o)),
nbest AS (SELECT orig_s, p, orig_o, min(a) AS a FROM nvalid
          GROUP BY orig_s, p, orig_o),
negs AS (
  SELECT DISTINCT v.s, v.p, v.o
  FROM nvalid v JOIN nbest USING (orig_s, p, orig_o, a))
"""


# ---------------------------------------------- end-to-end PaTyBRED oracle
#
# The classifier FIT is not SQL-expressible, but it IS independently
# reproducible without Spark: the training rows (capped positives ∪
# deterministic negatives) and their feature sets are pure SQL over the
# noisy graph, and the fit is a deterministic numpy procedure on those
# rows. The oracle builder below runs the training SQL in its own DuckDB,
# fits the identical numpy model, and embeds the resulting weights/leaves
# as a VALUES table inside the final oracle SQL — so the driver's
# kg_patybred_* checks become exact end-to-end value comparisons (scoring,
# ranking, and metrics all in SQL), conditioned only on the shared fit
# procedure.


def _pb_noisy_ctes(raw_cte: str, p_error: float, R: int = R_CONST,
                   kind: int = 1, replace: bool = False,
                   iorels: bool = False) -> str:
    """kg → kind-1/3 errors → noisy graph → paths/memb over the NOISY
    graph (patybred_ranked enumerates paths on the error-injected facts)
    → nfl (features of every noisy fact). ``replace`` mirrors
    pipeline.noisy_facts(replace=True): corrupted originals are removed."""
    from kgspark import errorsgen
    from kgspark.typesys import kg_ctes

    if kind == 1:
        err = errorsgen.errors_kind1_ctes(p_error)
    else:
        from kgspark.correct import name_candidates_ctes

        # kind-1 emits the `ne` entity-count CTE that the downstream
        # negatives chain expects; emit it here for the kind-3 chain too
        err = ("ne AS (SELECT count(*) AS n FROM ent),"
               f"{name_candidates_ctes()},"
               f"{errorsgen.errors_kind3_ctes(p_error, with_cands=False)}")
    keep = ("""
  WHERE NOT EXISTS (SELECT 1 FROM errfin
                    WHERE errfin.orig_s = enc.s AND errfin.p = enc.p
                      AND errfin.orig_o = enc.o)""" if replace else "")
    return f"""
{kg_ctes(raw_cte)},
{err},
noisy AS (
  SELECT s, p, o, FALSE AS is_error FROM enc{keep}
  UNION ALL
  SELECT s, p, o, TRUE AS is_error FROM errfin),
noisyf AS (SELECT s, p, o FROM noisy),
{paths_ctes(R, rel='noisyf')},
{memb_ctes(R)},{("%s," % endpoints_ctes(R)) if iorels else ""}
nfl AS (
  SELECT f.s, f.p, f.o, memb.feat
  FROM noisyf f JOIN memb ON memb.s = f.s AND memb.o = f.o
  WHERE NOT (memb.single AND memb.p0 = f.p)
  UNION ALL
  SELECT f.s, f.p, f.o, 'st_' || CAST(ty.t AS VARCHAR)
  FROM noisyf f JOIN ty ON ty.e = f.s
  UNION ALL
  SELECT f.s, f.p, f.o, 'ot_' || CAST(ty.t AS VARCHAR)
  FROM noisyf f JOIN ty ON ty.e = f.o{_io_arms('noisyf', iorels)})
"""


def _pb_train_ctes(raw_cte: str, p_error: float, R: int = R_CONST,
                   kind: int = 1, replace: bool = False,
                   iorels: bool = False) -> str:
    """…plus training rows (pos ∪ negs over noisyf) and their features."""
    return f"""
{_pb_noisy_ctes(raw_cte, p_error, R, kind, replace, iorels)},
{negatives_ctes(R, rel='noisyf', with_ne=False)},
train AS (
  SELECT s, p, o, 1 AS label FROM pos
  UNION ALL
  SELECT s, p, o, 0 AS label FROM negs),
tfl AS (
  SELECT t.s, t.p, t.o, memb.feat
  FROM train t JOIN memb ON memb.s = t.s AND memb.o = t.o
  WHERE NOT (memb.single AND memb.p0 = t.p)
  UNION ALL
  SELECT t.s, t.p, t.o, 'st_' || CAST(ty.t AS VARCHAR)
  FROM train t JOIN ty ON ty.e = t.s
  UNION ALL
  SELECT t.s, t.p, t.o, 'ot_' || CAST(ty.t AS VARCHAR)
  FROM train t JOIN ty ON ty.e = t.o{_io_arms('train', iorels)})
"""


def _io_arms(rel: str, iorels: bool) -> str:
    """J5 feature arms over ``iop`` (endpoints_ctes) for the fact table
    ``rel`` — appended inside the nfl/tfl feature CTEs when iorels is on;
    naming matches features_long (os_/is_ for subjects, oo_/io_ for
    objects)."""
    if not iorels:
        return ""
    return f"""
  UNION ALL
  SELECT t.s, t.p, t.o,
         (CASE WHEN iop.side = 'r' THEN 'os_' ELSE 'is_' END) || iop.pid
  FROM {rel} t JOIN iop ON iop.e = t.s
  UNION ALL
  SELECT t.s, t.p, t.o,
         (CASE WHEN iop.side = 'r' THEN 'oo_' ELSE 'io_' END) || iop.pid
  FROM {rel} t JOIN iop ON iop.e = t.o"""


_PB_FIT_CACHE: dict[tuple, pd.DataFrame | None] = {}


def _pb_fit_from_duckdb(raw_cte: str, p_error: float, sf_dir: str,
                        clf: str, R: int = R_CONST, kind: int = 1,
                        replace: bool = False, iorels: bool = False,
                        max_feats: int | None = None):
    """Run the training SQL in a fresh DuckDB and fit the numpy model —
    no Spark involved. Returns the per-relation fit output rows."""
    from hashlib import sha256

    # full-content digest, not hash(): a Python-hash collision between two
    # raw CTEs in one process would silently return the wrong weights
    key = (sha256(raw_cte.encode()).hexdigest(), p_error, sf_dir, clf, R,
           kind, replace, iorels, max_feats)
    if key in _PB_FIT_CACHE:
        return _PB_FIT_CACHE[key]
    import duckdb

    from kgspark.dialect import materialize_ctes

    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM read_parquet("
                f"'{sf_dir}/documents.parquet')")
    base = _pb_train_ctes(raw_cte, p_error, R, kind, replace, iorels)
    train = con.execute(materialize_ctes(
        f"WITH {base} SELECT s, p, o, label FROM train")).df()
    tf = con.execute(materialize_ctes(
        f"WITH {base} SELECT DISTINCT s, p, o, feat FROM tfl")).df()
    con.close()

    fmap: dict[tuple, list[str]] = {}
    for r in tf.itertuples():
        fmap.setdefault((r.s, r.p, r.o), []).append(r.feat)
    train["feats"] = [
        sorted(fmap.get((r.s, r.p, r.o), [])) for r in train.itertuples()]

    fit = _fit_group if clf == "lgr" else _fit_group_dt
    outs = [fit(grp, max_feats) for _, grp in train.groupby("p", sort=True)]
    res = pd.concat(outs, ignore_index=True) if outs else None
    _PB_FIT_CACHE[key] = res
    return res


def _sql_num(x: float) -> str:
    return f"CAST('{float(x)!r}' AS DOUBLE)"  # repr round-trips exactly


def _pb_scored_sql(raw_cte: str, p_error: float, sf_dir: str,
                   clf: str = "lgr", R: int = R_CONST,
                   kind: int = 1, replace: bool = False,
                   iorels: bool = False,
                   max_feats: int | None = None) -> str:
    """Full oracle chain ending in ``scored`` (s, p, o, score, is_error)."""
    w = _pb_fit_from_duckdb(raw_cte, p_error, sf_dir, clf, R, kind, replace,
                            iorels, max_feats)
    if clf == "lgr":
        if w is None or len(w) == 0:
            vals = "(0, '_none', CAST('0.0' AS DOUBLE))"
        else:
            vals = ", ".join(
                f"({int(r.p)}, '{r.feat}', {_sql_num(r.w)})"
                for r in w.itertuples())
        model_ctes = f"""
wts(wp, feat, w) AS (VALUES {vals}),
bs AS (SELECT wp, w AS bias FROM wts WHERE feat = '_bias'),
wt AS (SELECT wp, feat, w FROM wts WHERE feat <> '_bias'),
dots AS (
  SELECT nfl.s, nfl.p, nfl.o, sum(coalesce(wt.w, 0.0)) AS dot
  FROM nfl LEFT JOIN wt ON wt.wp = nfl.p AND wt.feat = nfl.feat
  GROUP BY nfl.s, nfl.p, nfl.o),
scored AS (
  SELECT n.s, n.p, n.o,
         CASE WHEN bs.wp IS NULL THEN 0.0
              ELSE 1.0 / (1.0 + exp(-(coalesce(dots.dot, 0.0)
                                      + coalesce(bs.bias, 0.0)))) END AS score,
         n.is_error
  FROM noisy n
  LEFT JOIN dots ON dots.s = n.s AND dots.p = n.p AND dots.o = n.o
  LEFT JOIN bs ON bs.wp = n.p)
"""
    else:
        def lst(v):
            items = ", ".join(f"'{f}'" for f in v)
            return f"[{items}]" if len(v) else "CAST([] AS VARCHAR[])"

        if w is None or len(w) == 0:
            vals = "(0, CAST('0.0' AS DOUBLE), CAST([] AS VARCHAR[]), CAST([] AS VARCHAR[]))"
        else:
            vals = ", ".join(
                f"({int(r.p)}, {_sql_num(r.prob)}, {lst(r.feats_true)}, "
                f"{lst(r.feats_false)})" for r in w.itertuples())
        model_ctes = """
leaves(lp, prob, ft, ff) AS (VALUES %s),
ff0 AS (SELECT s, p, o, list(DISTINCT feat) AS fs FROM nfl GROUP BY s, p, o),
ffs AS (
  SELECT n.s, n.p, n.o, n.is_error,
         coalesce(f.fs, CAST([] AS VARCHAR[])) AS fs
  FROM noisy n LEFT JOIN ff0 f ON f.s = n.s AND f.p = n.p AND f.o = n.o),
hits AS (
  SELECT ffs.s, ffs.p, ffs.o, l.prob
  FROM ffs JOIN leaves l ON l.lp = ffs.p
  WHERE list_has_all(ffs.fs, l.ft) AND NOT list_has_any(ffs.fs, l.ff)),
scored AS (
  SELECT ffs.s, ffs.p, ffs.o, coalesce(h.prob, 0.0) AS score, ffs.is_error
  FROM ffs LEFT JOIN hits h ON h.s = ffs.s AND h.p = ffs.p AND h.o = ffs.o)
""" % vals
    return (f"{_pb_noisy_ctes(raw_cte, p_error, R, kind, replace, iorels)},"
            f"\n{model_ctes}")


def ranked_oracle_sql(raw_cte: str, p_error: float = 0.05,
                      sf_dir: str | None = None,
                      clf: str = "lgr", R: int = R_CONST,
                      kind: int = 1, replace: bool = False,
                      iorels: bool = False,
                      max_feats: int | None = None) -> str:
    """Exact oracle for patybred_ranked / patybred_dt_ranked; ``sf_dir``
    must be the dataset the driver compares at (default: resolved from the
    driver env via util.oracle_sf_dir)."""
    from kgspark.util import oracle_sf_dir

    sf_dir = sf_dir or oracle_sf_dir()
    return f"""
WITH {_pb_scored_sql(raw_cte, p_error, sf_dir, clf, R, kind, replace,
                     iorels, max_feats)}
SELECT s, p, o, round(score, 6) AS score,
       CAST(row_number() OVER (ORDER BY round(score, 6), s, p, o) AS BIGINT)
         AS rank,
       is_error
FROM scored
"""


def metrics_oracle_sql(raw_cte: str, p_error: float = 0.05,
                       sf_dir: str | None = None,
                       clf: str = "lgr", R: int = R_CONST) -> str:
    from kgspark import rank
    from kgspark.util import oracle_sf_dir

    sf_dir = sf_dir or oracle_sf_dir()

    flagged = (f"WITH {_pb_scored_sql(raw_cte, p_error, sf_dir, clf, R)} "
               "SELECT s, p, o, round(score, 6) AS score, is_error FROM scored")
    return rank.evaluate_sql(flagged)


def negatives_sql(triples_cte: str, R: int = R_CONST) -> str:
    from kgspark.typesys import kg_ctes

    return (f"WITH {kg_ctes(triples_cte)}, {negatives_ctes(R)} "
            "SELECT s, p, o FROM negs")


def endpoints_ctes(R: int = R_CONST) -> str:
    """Endpoints CTE ``iop`` (pid, e, side) mirroring path_endpoints."""
    ip1, ip2 = _inv_sql("p1", R), _inv_sql("p2", R)
    d2pid = "CAST(p1 AS VARCHAR) || '_' || CAST(p2 AS VARCHAR)"
    twpid = f"CAST({ip2} AS VARCHAR) || '_' || CAST({ip1} AS VARCHAR)"
    return f"""
iop AS (
  SELECT DISTINCT CAST(p AS VARCHAR) AS pid, s AS e, 'r' AS side
  FROM aug JOIN singles USING (p)
  UNION ALL
  SELECT DISTINCT CAST(p AS VARCHAR), o, 'c' FROM aug JOIN singles USING (p)
  UNION ALL
  SELECT DISTINCT {d2pid}, s, 'r' FROM pp2 JOIN paths2 USING (p1, p2)
  UNION ALL
  SELECT DISTINCT {d2pid}, o, 'c' FROM pp2 JOIN paths2 USING (p1, p2)
  UNION ALL
  SELECT DISTINCT {twpid}, o, 'r' FROM pp2 JOIN paths2 USING (p1, p2)
  UNION ALL
  SELECT DISTINCT {twpid}, s, 'c' FROM pp2 JOIN paths2 USING (p1, p2))
"""


def features_long_sql(triples_cte: str, R: int = R_CONST,
                      iorels: bool = False) -> str:
    """Oracle for features_long over ALL encoded facts."""
    from kgspark.typesys import kg_ctes

    if iorels:
        io_ctes = f", {endpoints_ctes(R)},\n" + """
iosf AS (
  SELECT enc.s, enc.p, enc.o,
         (CASE WHEN iop.side = 'r' THEN 'os_' ELSE 'is_' END) || iop.pid AS feat
  FROM enc JOIN iop ON iop.e = enc.s),
ioof AS (
  SELECT enc.s, enc.p, enc.o,
         (CASE WHEN iop.side = 'r' THEN 'oo_' ELSE 'io_' END) || iop.pid AS feat
  FROM enc JOIN iop ON iop.e = enc.o),
"""
        io_arms = ("UNION ALL SELECT * FROM iosf "
                   "UNION ALL SELECT * FROM ioof")
    else:
        io_ctes, io_arms = ",", ""
    return f"""
WITH {kg_ctes(triples_cte)}, {paths_ctes(R)}, {memb_ctes(R)} {io_ctes}
pf AS (
  SELECT enc.s, enc.p, enc.o, memb.feat
  FROM enc JOIN memb ON memb.s = enc.s AND memb.o = enc.o
  WHERE NOT (memb.single AND memb.p0 = enc.p)),
stf AS (
  SELECT enc.s, enc.p, enc.o, 'st_' || CAST(ty.t AS VARCHAR) AS feat
  FROM enc JOIN ty ON ty.e = enc.s),
otf AS (
  SELECT enc.s, enc.p, enc.o, 'ot_' || CAST(ty.t AS VARCHAR) AS feat
  FROM enc JOIN ty ON ty.e = enc.o)
SELECT s, p, o, feat FROM pf
UNION ALL SELECT * FROM stf
UNION ALL SELECT * FROM otf
{io_arms}
"""
