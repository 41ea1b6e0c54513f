"""Fact ranking + error-detection evaluation metrics (SURVEY §2 W1-W3, A7-A8).

Reference semantics:
* ordinal ranking ascending by score (most suspect first) —
  /root/reference/detect_errors.py:29 (``rankdata(method='ordinal')``),
  /root/reference/rank_facts.py:135-142. Ties broken by (s, p, o) for
  determinism (the reference inherits numpy's unstable order).
* filtered rank: subtract the count of better-ranked errors —
  /root/reference/detect_errors.py:16-22.
* MeanRank / MRR / FMeanRank / FMRR / ROC-AUC / PR-AUC on negated scores —
  /root/reference/detect_errors.py:25-47. AUCs are computed exactly via
  rank algebra: ROC is Mann-Whitney with average tie ranks
  (= sklearn roc_auc_score); PR is the trapezoidal integral over the
  threshold-grouped (recall, precision) points INCLUDING the appended
  (recall=0, precision=1) endpoint — exactly sklearn's
  auc(r, p) over precision_recall_curve output (the reference's PRAUC).

Scale: the filtered rank is a global ordinal over the error subset and
the AUC running sums are global cumsums over the distinct-score groups,
both from kgspark.ordering. Each call picks its own strategy: one task
(``coalesce(1)`` + window) when the checkpointed input's stored size is
at most ``spark.sql.autoBroadcastJoinThreshold``, otherwise the
range-partitioned per-partition-prefix + broadcast-offset pattern, so
no stage serializes on one partition at scale. Both strategies give
identical ranks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgspark.ordering import global_cumsum, global_ordinal


def rank_facts(scored: DataFrame, score_col: str = "score") -> DataFrame:
    """→ input + ordinal ``rank`` ascending (score, s, p, o)."""
    return global_ordinal(scored, [score_col, "s", "p", "o"], out="rank")


def rank_facts_average(scored: DataFrame, score_col: str = "score") -> DataFrame:
    """→ input + ``rank`` with scipy's DEFAULT *average* tie method —
    the variant the reference's rank_facts.py:136 actually uses
    (``rankdata(scores)``): every member of a tie group gets the mean of
    the ordinal ranks the group spans. Two-phase: cumulative counts over
    the distinct-score groups (global_cumsum), then a join back — no
    per-row window over the full fact table."""
    g = scored.groupBy(score_col).agg(F.count("*").alias("c"))
    g = global_cumsum(g, [score_col], ["c"])
    g = g.select(score_col,
                 (F.col("cum_c") - F.col("c") + (F.col("c") + 1) / 2.0)
                 .alias("rank"))
    return scored.join(g, score_col).select(*scored.columns, "rank")


def evaluate(ranked: DataFrame, flag_col: str = "is_error") -> DataFrame:
    """1-row metrics DataFrame over a ranked, error-flagged fact table."""
    from kgspark.ordering import _is_materialized
    from kgspark.util import materialize

    # the ranked table feeds the error-subset ordinal AND the AUC
    # threshold grouping (two separate scans) — checkpoint non-trivial
    # lineage once
    if not _is_materialized(ranked):
        ranked = materialize(ranked)
    errs = ranked.where(F.col(flag_col))
    # filtered rank = rank - (# errors ranked before it); the error subset
    # is p_error · |facts| — far too big for one partition at scale, so the
    # position comes from the range-partitioned global ordinal (ranks are
    # unique, so the order is total).
    errs = global_ordinal(errs, ["rank"], out="_ernk")
    errs = errs.withColumn("f_rank", F.col("rank") - F.col("_ernk") + 1)

    base = errs.agg(
        F.avg("rank").alias("mean_rank"),
        F.avg(1.0 / F.col("rank")).alias("mrr"),
        F.avg("f_rank").alias("f_mean_rank"),
        F.avg(1.0 / F.col("f_rank")).alias("f_mrr"),
        F.count("*").alias("n_errors"),
    )

    # n_facts rides along in the AUC aggregate (sum of the per-score group
    # counts == |ranked|) instead of a dedicated count() pass over the
    # full fact table.
    aucs = auc_metrics(ranked, flag_col, with_n_facts=True)
    return base.crossJoin(aucs).select(
        "mean_rank", "mrr", "f_mean_rank", "f_mrr", "n_errors", "n_facts",
        "roc_auc", "pr_auc")


def auc_metrics(scored: DataFrame, flag_col: str = "is_error",
                score_col: str = "score",
                with_n_facts: bool = False) -> DataFrame:
    """ROC-AUC + PR-AUC of (low score ⇒ error), via threshold groups.

    Grouping by distinct score keeps the math exact; the ascending-score
    order means "most suspect first", matching the reference's
    roc_auc_score(errors, -scores) / auc over precision_recall_curve.
    The running sums use the two-phase global cumsum — after 6-dp rounding
    the number of distinct scores can approach |facts|, so an
    unpartitioned window here would serialize the whole metric.
    """
    g = (
        scored.groupBy(score_col)
        .agg(
            F.sum(F.col(flag_col).cast("long")).alias("e"),
            F.count("*").alias("c"),
        )
    )
    g = global_cumsum(g, [score_col], ["e", "c"])
    # average rank of the tie group (ascending score): cum_c - c + (c+1)/2
    g = g.withColumn("avg_rank", F.col("cum_c") - F.col("c") + (F.col("c") + 1) / 2.0)
    # trapezoid over (recall, precision): the PREVIOUS curve point is just
    # (cum - current), and the appended sklearn endpoint (r=0, p=1) is the
    # prev_c == 0 case — no lag window needed.
    p_cur = F.col("cum_e") * 1.0 / F.col("cum_c")
    p_prev = F.when(F.col("cum_c") - F.col("c") > 0,
                    (F.col("cum_e") - F.col("e")) * 1.0
                    / (F.col("cum_c") - F.col("c"))).otherwise(F.lit(1.0))
    aggs = [
        (
            1.0
            - (
                (F.sum(F.col("avg_rank") * F.col("e"))
                 - F.sum("e") * (F.sum("e") + 1) / 2.0)
                / (F.sum("e") * (F.sum("c") - F.sum("e")))
            )
        ).alias("roc_auc"),
        (
            F.sum(F.col("e") * (p_cur + p_prev) / 2.0) / F.sum("e")
        ).alias("pr_auc"),
    ]
    if with_n_facts:
        aggs.append(F.coalesce(F.sum("c"), F.lit(0)).cast("long")
                    .alias("n_facts"))
    return g.agg(*aggs)


# ---------------------------------------------------------------- SQL (oracle)


def evaluate_sql(flagged_cte: str, round_to: int = 6) -> str:
    """Oracle: metrics over a (s,p,o,score,is_error) CTE."""
    return f"""
WITH sc AS ({flagged_cte}),
r AS (SELECT *, CAST(row_number() OVER (ORDER BY score, s, p, o) AS BIGINT) AS rank FROM sc),
e AS (SELECT rank, rank - row_number() OVER (ORDER BY rank) + 1 AS f_rank
      FROM r WHERE is_error),
base AS (SELECT avg(rank) AS mean_rank, avg(1.0 / rank) AS mrr,
                avg(f_rank) AS f_mean_rank, avg(1.0 / f_rank) AS f_mrr,
                count(*) AS n_errors FROM e),
g AS (SELECT score, sum(CASE WHEN is_error THEN 1 ELSE 0 END) AS e, count(*) AS c
      FROM r GROUP BY score),
cg AS (SELECT *, sum(e) OVER (ORDER BY score) AS cum_e,
              sum(c) OVER (ORDER BY score) AS cum_c FROM g),
a AS (SELECT
  1.0 - ((sum((cum_c - c + (c + 1) / 2.0) * e) - sum(e) * (sum(e) + 1) / 2.0)
         / (sum(e) * (sum(c) - sum(e)))) AS roc_auc,
  sum(e * ((cum_e * 1.0 / cum_c)
           + (CASE WHEN cum_c - c > 0
                   THEN (cum_e - e) * 1.0 / (cum_c - c)
                   ELSE 1.0 END)) / 2.0) / sum(e) AS pr_auc FROM cg)
SELECT round(mean_rank, {round_to}) AS mean_rank, round(mrr, {round_to}) AS mrr,
       round(f_mean_rank, {round_to}) AS f_mean_rank, round(f_mrr, {round_to}) AS f_mrr,
       n_errors, (SELECT count(*) FROM r) AS n_facts,
       round(roc_auc, {round_to}) AS roc_auc, round(pr_auc, {round_to}) AS pr_auc
FROM base, a
"""
