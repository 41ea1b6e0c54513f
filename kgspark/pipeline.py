"""The KG construction + error-detection chain, written once.

The order — ingest, link, encode, types, inject errors, score, rank — is
one sequence of ``store.stage(name, build, params, deps)`` calls in
``construct`` (repo_files → … → types) and ``detect`` (noisy_facts →
[models] → scores → ranked). A parameter enters at the stage that uses
it, so two runs share exactly the stages whose keys match. The chain runs
on either store of ``kgspark.checkpoint``: the parquet ``Checkpointer``
(``checkpoint.run_pipeline``) or the session's ``MemoryStore``, used by
``build_graph`` (E1 ingest, load_kb.py), ``flagship_ranked`` (E2 rank,
rank_facts.py), ``flagship_metrics`` (E3 evaluate, detect_errors.py)
and ``patybred.pb_bundle``. Every stage also has a DuckDB oracle builder,
so the driver value-checks the whole chain at sf0.01.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgspark import encode, errorsgen, extract, rank, scoring, synth, typesys
from kgspark.checkpoint import MemoryStore


@dataclass
class Graph:
    """The construction stages of one chain run, with sizes and the
    type-name dimension read from its store when asked for."""
    store: object  # the MemoryStore or Checkpointer the chain ran on
    repo_files: DataFrame
    triples_raw: DataFrame  # pre-linking (subj, pred, obj) strings
    triples_str: DataFrame  # canonicalized (subj, pred, obj) strings
    entities: DataFrame
    relations: DataFrame
    triples: DataFrame  # encoded (s, p, o)
    types: DataFrame

    @property
    def n_entities(self) -> int:
        return self.store.rows["entities"]

    @property
    def n_relations(self) -> int:
        return self.store.rows["relations"]

    @property
    def type_names(self) -> DataFrame:
        return self.store.derived(
            "type_names", lambda: typesys.build_types(
                self.entities, self.triples, self.relations)[1],
            deps=["types"])

    @property
    def paths(self):
        """The path index (``patybred.enumerate_paths`` at its defaults)
        of the clean encoded triples."""
        from kgspark import patybred

        return self.store.derived(
            "triples_paths",
            lambda: patybred.enumerate_paths(self.triples, self.n_relations),
            deps=["triples"])


@dataclass
class Detection:
    """The error-detection stages of one chain run."""
    noisy: DataFrame   # (s, p, o, is_error)
    facts: DataFrame   # (s, p, o)
    idx: object        # patybred.PathIndex (None for SDValidate)
    models: DataFrame | None  # weight table (lgr) or leaf table (dt)
    ranked: DataFrame  # (s, p, o, score, rank, is_error)


def construct(store, sf_dir: str, variant: str = "base") -> Graph:
    """repo_files → … → types on ``store``; ``variant='rich'`` reads the
    6-relation corpus of the reference-gate correction queries."""
    from kgspark import link

    source = synth.repo_files_rich if variant == "rich" else synth.repo_files
    rf = store.stage("repo_files", lambda: source(store.spark, sf_dir),
                     params={"sf_dir": sf_dir, "variant": variant})
    # the base corpus carries no file→file mention lines: arms off (zero cost)
    tr_raw = store.stage(
        "triples_raw",
        lambda: extract.extract_triples(rf, file_mentions=(variant == "rich")),
        deps=["repo_files"])
    # entity linking + canonicalization (MinHash-LSH blocking + iterative CC)
    tr = store.stage("triples_canonical",
                     lambda: link.canonicalize_triples(tr_raw),
                     deps=["triples_raw"])
    ents = store.stage("entities", lambda: encode.entity_dim(tr),
                       deps=["triples_canonical"])
    rels = store.stage("relations", lambda: encode.relation_dim(tr),
                       deps=["triples_canonical"])
    enc = store.stage("triples", lambda: encode.encode_triples(tr, ents, rels),
                      deps=["triples_canonical", "entities", "relations"],
                      partition_by=["p"], salt=["s", "o"])
    types = store.stage("types",
                        lambda: typesys.build_types(ents, enc, rels)[0],
                        deps=["triples", "entities", "relations"])
    return Graph(store, rf, tr_raw, tr, ents, rels, enc, types)


def detect(store, g: Graph, p_error: float = 0.05, kind: int = 1,
           replace: bool = False, method: str = "sdvalidate",
           clf: str = "lgr", iorels: bool = False,
           max_feats: int | None = None, ties: str = "ordinal") -> Detection:
    """noisy_facts → [models] → scores → ranked on ``store``. ``method``
    is ``sdvalidate`` or ``patybred`` (``clf`` ``lgr`` or ``dt``); ``ties``
    is ``ordinal`` (ties broken by (s, p, o)) or ``average`` (scipy's
    default, the reference rank_facts.py:136 variant)."""
    from kgspark import patybred as pb

    noisy = store.stage(
        "noisy_facts", lambda: noisy_facts(g, p_error, kind, replace),
        params={"p_error": p_error, "kind": kind, "replace": replace},
        deps=["triples"])
    facts = store.derived("facts", lambda: noisy.select("s", "p", "o"),
                          deps=["noisy_facts"])
    idx = models = None
    if method == "patybred":
        # the fitted models get their own stage (S6 model sink — the
        # reference pickles its models, patybred.py:630-655)
        idx = store.derived(
            "paths", lambda: pb.enumerate_paths(facts, g.n_relations),
            deps=["noisy_facts"])
        fit, score = ((pb.fit_models, pb.score_facts) if clf == "lgr"
                      else (pb.fit_models_dt, pb.score_facts_dt))
        models = store.stage(
            "models", lambda: fit(facts, idx, g.types, g.n_entities,
                                  iorels, max_feats),
            params={"clf": clf, "iorels": iorels, "max_feats": max_feats},
            deps=["noisy_facts", "types"])
        scored, deps = (lambda: score(facts, idx, g.types, models, iorels),
                        ["models"])
    else:
        scored, deps = (lambda: scoring.sdvalidate_scores(facts, g.types),
                        ["noisy_facts", "types"])
    scores = store.stage(
        "scores", lambda: scored().withColumn("score", F.round("score", 6)),
        params={"method": method}, deps=deps)
    order = rank.rank_facts if ties == "ordinal" else rank.rank_facts_average
    ranked = store.stage(
        "ranked", lambda: order(scores).join(noisy, ["s", "p", "o"])
        .select("s", "p", "o", "score", "rank", "is_error"),
        params={"ties": ties}, deps=["scores", "noisy_facts"])
    return Detection(noisy, facts, idx, models, ranked)


def in_memory(spark: SparkSession, sf_dir: str, variant: str = "base",
              **params) -> Detection:
    """The whole chain on the session's in-memory store; ``params`` go to
    ``detect``."""
    store = MemoryStore(spark)
    return detect(store, construct(store, sf_dir, variant), **params)


def build_graph(spark: SparkSession, sf_dir: str,
                variant: str = "base") -> Graph:
    """The constructed KG, checkpointed once per session and key."""
    return construct(MemoryStore(spark), sf_dir, variant)


def noisy_facts(g: Graph, p_error: float = 0.05, kind: int = 1,
                replace: bool = False) -> DataFrame:
    """True facts ∪ injected errors with an ``is_error`` flag (U6).

    ``replace=True`` removes each corrupted fact's ORIGINAL from the
    graph (the realistic typo-confusion regime the reference's repair
    targets: the wrong triple is present, the right one is absent —
    correct_errors.py:99-141). Default keeps originals
    (additive injection, the generate_errors.py evaluation shape).
    """
    if kind == 1:
        errs = errorsgen.inject_errors_kind1(g.triples, g.n_entities, p_error)
    elif kind == 2:
        errs = errorsgen.inject_errors_kind2(g.triples, g.types, p_error)
    else:
        errs = errorsgen.inject_errors_kind3(g.triples, g.entities, p_error,
                                             n_entities=g.n_entities)
    base = g.triples
    if replace:
        base = base.join(
            errs.select(F.col("orig_s").alias("s"), "p",
                        F.col("orig_o").alias("o")),
            ["s", "p", "o"], "left_anti")
    return base.select(
        "s", "p", "o", F.lit(False).alias("is_error")
    ).unionByName(errs.select("s", "p", "o", F.lit(True).alias("is_error")))


def flagship_ranked(spark: SparkSession, sf_dir: str,
                    p_error: float = 0.05) -> DataFrame:
    """Noisy graph → SDValidate score → global ordinal rank (most suspect first)."""
    return in_memory(spark, sf_dir, p_error=p_error).ranked


def flagship_ranked_avg(spark: SparkSession, sf_dir: str,
                        p_error: float = 0.05) -> DataFrame:
    """flagship_ranked with scipy's default *average* tie ranks (the
    reference rank_facts.py:136 variant; W1 per-call-site choice)."""
    return in_memory(spark, sf_dir, p_error=p_error, ties="average").ranked


def flagship_metrics(spark: SparkSession, sf_dir: str,
                     p_error: float = 0.05) -> DataFrame:
    return metrics(flagship_ranked(spark, sf_dir, p_error))


def metrics(ranked: DataFrame) -> DataFrame:
    """``rank.evaluate`` with the rates rounded to 6 dp (as the oracle)."""
    return rank.evaluate(ranked).select(
        *[F.round(c, 6).alias(c) for c in
          ("mean_rank", "mrr", "f_mean_rank", "f_mrr")],
        "n_errors", "n_facts",
        F.round("roc_auc", 6).alias("roc_auc"),
        F.round("pr_auc", 6).alias("pr_auc"),
    )


# ---------------------------------------------------------------- SQL (oracle)


def _noisy_ctes(raw_cte: str, p_error: float) -> str:
    return f"""
{typesys.kg_ctes(raw_cte)},
{errorsgen.errors_kind1_ctes(p_error)},
noisy AS (
  SELECT s, p, o, FALSE AS is_error FROM enc
  UNION ALL
  SELECT s, p, o, TRUE AS is_error FROM errfin),
noisyf AS (SELECT s, p, o FROM noisy),
{scoring.sdvalidate_ctes('noisyf')},
flg AS (SELECT sdv.s, sdv.p, sdv.o, sdv.score, noisy.is_error
        FROM sdv JOIN noisy ON noisy.s = sdv.s AND noisy.p = sdv.p AND noisy.o = sdv.o)
"""


def flagship_ranked_sql(raw_cte: str, p_error: float = 0.05) -> str:
    return f"""
WITH {_noisy_ctes(raw_cte, p_error)}
SELECT s, p, o, score,
       CAST(row_number() OVER (ORDER BY score, s, p, o) AS BIGINT) AS rank,
       is_error
FROM flg
"""


def flagship_ranked_avg_sql(raw_cte: str, p_error: float = 0.05) -> str:
    return f"""
WITH {_noisy_ctes(raw_cte, p_error)},
g AS (SELECT score, count(*) AS c FROM flg GROUP BY score),
cg AS (SELECT score, c, sum(c) OVER (ORDER BY score) AS cum_c FROM g),
rk AS (SELECT score, cum_c - c + (c + 1) / 2.0 AS rank FROM cg)
SELECT flg.s, flg.p, flg.o, flg.score, rk.rank, flg.is_error
FROM flg JOIN rk ON rk.score = flg.score
"""


def flagship_metrics_sql(raw_cte: str, p_error: float = 0.05) -> str:
    flagged = (f"WITH {_noisy_ctes(raw_cte, p_error)} "
               "SELECT s, p, o, score, is_error FROM flg")
    return rank.evaluate_sql(flagged)
