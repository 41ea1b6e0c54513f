"""Entity linking + canonicalization (SURVEY §2 J8-J9, F2-F6; north rule:
"MinHash-LSH blocking followed by iterative hash-join connected-components
resolution").

Reference analog: the ASM entity matcher (/root/reference/entityasm.py:16-160)
blocks candidate entities via SymSpell delete-variants and verifies with
Damerau-Levenshtein; disambiguation closures merge entities sharing an
unresolved URI (entityasm.py:35-46). We generalize to the scale-appropriate
pattern:

  mention → normalize (F2/F3) → character 3-grams → MinHash signature →
  banded LSH buckets → candidate pairs (hash-join blocking) → verify
  (normalized equality or Levenshtein ≤ k, F4) → iterative hash-join
  connected components (min-label propagation) → canonical map.

Determinism: the MinHash uses the portable md5 hash (kgspark.hashing), so
DuckDB computes the *identical* signatures, buckets, pairs and components —
the whole linking stage is oracle-checkable, not just spot-checked.

Recall note: mentions whose normalized forms are EQUAL share every 3-gram,
hence every MinHash band → LSH recall is exactly 1.0 for the
equal-after-normalization rule used by the canonical pipeline. Fuzzy
(Levenshtein ≤ 1) linking is exposed as a separate operator.

Scale notes: signature computation is one groupBy over (mention, gram)
pairs with N_HASHES min-aggregates (single shuffle); banding explodes to
N_BANDS rows per mention; bucket self-join is the classic skew point —
bucket sizes are bounded because identical-signature groups are exactly
the duplicate groups (small); AQE skew-join covers pathological buckets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgspark.hashing import phash32, sql_phash32
from kgspark.util import materialize

N_HASHES = 12
BAND_ROWS = 3  # 4 bands x 3 rows


def normalize_mentions(triples_raw: DataFrame, prefix: str = "module:") -> DataFrame:
    """Distinct mention names of one entity class → (name, norm).

    norm = lowercase, alphanumerics only (reference get_words/unidecode
    analog, entityasm.py:128-131 + 105-106).
    """
    m = (
        triples_raw.where(F.col("obj").startswith(prefix))
        .select(F.col("obj").alias("name"))
        .distinct()
    )
    bare = F.expr(f"substr(name, {len(prefix) + 1})")
    return m.select(
        "name",
        F.regexp_replace(F.lower(bare), "[^a-z0-9]", "").alias("norm"),
    )


def _grams(norm_col: str = "norm") -> F.Column:
    return F.expr(
        f"transform(sequence(1, greatest(length({norm_col}) - 2, 1)),"
        f" i -> substr({norm_col}, i, 3))"
    )


def minhash_signatures(mentions: DataFrame) -> DataFrame:
    """→ (name, h0..h{N-1}): MinHash over character 3-grams.

    No dedup of the exploded grams: ``min`` is duplicate-insensitive, so
    the signatures are identical to the DISTINCT formulation (the DuckDB
    oracle's) while skipping a full shuffle of the widest intermediate —
    the grams table is map-side partial-aggregated straight into the
    per-name groupBy.
    """
    grams = mentions.select("name", F.explode(_grams()).alias("gram"))
    aggs = [
        F.min(phash32([F.col("gram")], f"mh{i}")).alias(f"h{i}")
        for i in range(N_HASHES)
    ]
    return grams.groupBy("name").agg(*aggs)


def lsh_candidate_pairs(mentions: DataFrame) -> DataFrame:
    """Banded-LSH blocking → candidate pairs (a, b), a < b (J8).

    The per-band rows come from ONE explode over the checkpointed
    signature table (instead of an n-band union whose signature subtree
    then feeds both self-join sides — the gram aggregation would
    otherwise execute twice per action)."""
    from kgspark.util import materialize

    sig = minhash_signatures(mentions)
    n_bands = N_HASHES // BAND_ROWS
    barr = F.array(*[
        F.struct(
            F.lit(j).alias("band"),
            F.concat_ws("_", *[F.col(f"h{j * BAND_ROWS + r}").cast("string")
                               for r in range(BAND_ROWS)]).alias("key"))
        for j in range(n_bands)])
    bd = materialize(
        sig.select("name", F.explode(barr).alias("_bk"))
        .select("name", "_bk.band", "_bk.key"))
    l = bd.select("band", "key", F.col("name").alias("a"))
    r = bd.select("band", "key", F.col("name").alias("b"))
    return (
        l.join(r, ["band", "key"])
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def verified_pairs(triples_raw: DataFrame, prefix: str = "module:",
                   max_lev: int = 0) -> DataFrame:
    """LSH candidates filtered by the match predicate on normalized forms.

    max_lev=0 → equal-after-normalization (the canonical pipeline rule);
    max_lev=1 → fuzzy edit-distance-1 linking (F4 analog).
    """
    # the mention table feeds the gram/signature chain and both verify
    # arms — checkpoint it once
    mentions = materialize(normalize_mentions(triples_raw, prefix))
    cand = lsh_candidate_pairs(mentions)
    na = mentions.select(F.col("name").alias("a"), F.col("norm").alias("norm_a"))
    nb = mentions.select(F.col("name").alias("b"), F.col("norm").alias("norm_b"))
    j = cand.join(na, "a").join(nb, "b")
    if max_lev == 0:
        pred = F.col("norm_a") == F.col("norm_b")
    else:
        pred = F.levenshtein("norm_a", "norm_b") <= max_lev
    return j.where(pred).select("a", "b")


def connected_components(edges: DataFrame, max_iter: int = 25) -> DataFrame:
    """Iterative hash-join min-label propagation → (node, comp) (J9).

    comp = minimum node key reachable. Each iteration: join labels to the
    symmetric edge list, take the min neighbor label, keep the smaller of
    (own, best-neighbor); materialize (truncate lineage = the checkpoint
    each round). Converges in O(component diameter) rounds — duplicate
    groups are near-cliques, so 1-2 rounds in practice; a large-star /
    small-star variant would cut rounds to O(log d) at extreme scale.
    """
    sym = edges.unionByName(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).distinct()
    sym = materialize(sym)
    # fold node init + the first propagation round into one aggregation:
    # after round 1 every label is min(self, direct neighbors), which is
    # exactly groupBy(a).min(b) floored by a (sym is symmetric, so every
    # node appears on the a side) — same fixpoint, one fewer join round
    labels = materialize(
        sym.groupBy("a").agg(F.min("b").alias("_mb"))
        .select(F.col("a").alias("node"),
                F.least(F.col("a"), F.col("_mb")).alias("comp")))

    for _ in range(max_iter - 1):
        neigh = (
            sym.join(labels.withColumnRenamed("node", "b")
                     .withColumnRenamed("comp", "nc"), "b")
            .groupBy("a").agg(F.min("nc").alias("best"))
            .withColumnRenamed("a", "node")
        )
        # carry a changed-flag instead of re-joining old vs new labels:
        # convergence detection is a cheap scan of the checkpointed
        # result, not an extra shuffle join per round
        new_labels = labels.join(neigh, "node", "left").select(
            "node",
            F.least(F.col("comp"), F.coalesce("best", "comp")).alias("comp"),
            (F.coalesce("best", "comp") < F.col("comp")).alias("chg"),
        )
        new_labels = materialize(new_labels)
        changed = new_labels.where("chg").count()
        labels = new_labels.drop("chg")
        if changed == 0:
            break
    return labels


def canonical_map(triples_raw: DataFrame, prefix: str = "module:",
                  max_lev: int = 0) -> DataFrame:
    """→ (name, canon): every mention mapped to its component minimum.

    Singleton mentions (no duplicate partner) map to themselves.
    """
    mentions = normalize_mentions(triples_raw, prefix)
    pairs = verified_pairs(triples_raw, prefix, max_lev)
    comp = connected_components(pairs)
    return (
        mentions.join(comp.withColumnRenamed("node", "name"), "name", "left")
        .select("name", F.coalesce("comp", "name").alias("canon"))
    )


def canonicalize_triples(triples_raw: DataFrame, prefix: str = "module:") -> DataFrame:
    """Rewrite object mentions through the canonical map; dedupe (U1 analog).

    Scale note: the map spans every distinct mention of the entity class —
    at corpus scale that exceeds any broadcast budget, so NO broadcast hint
    here: AQE picks broadcast when the map is actually small and falls back
    to a shuffle hash join on ``obj`` otherwise.
    """
    cmap = canonical_map(triples_raw, prefix)
    return (
        triples_raw.join(
            cmap.withColumnRenamed("name", "obj"), "obj", "left"
        )
        .select(
            "subj", "pred",
            F.coalesce("canon", "obj").alias("obj"),
        )
        .distinct()
    )


_DELETES_EXPR = (
    "transform(sequence(0, length(norm)),"
    " i -> CASE WHEN i = 0 THEN norm"
    " ELSE concat(substr(norm, 1, i - 1), substr(norm, i + 1)) END)"
)


def symspell_pairs(triples_raw: DataFrame, prefix: str = "module:") -> DataFrame:
    """SymSpell delete-variant blocking → verified pairs (J8 original form).

    Reference: delete-variant dictionary buckets at
    /root/reference/entityasm.py:137-160 + deletes generation
    /root/reference/util.py:60-77. Mentions sharing any distance-≤1 delete
    variant become candidates; verified with levenshtein ≤ 1.
    """
    m = normalize_mentions(triples_raw, prefix)
    v = m.select("name", "norm", F.explode(F.expr(_DELETES_EXPR)).alias("var")) \
        .distinct()
    l = v.select(F.col("var"), F.col("name").alias("a"), F.col("norm").alias("norm_a"))
    r = v.select(F.col("var"), F.col("name").alias("b"), F.col("norm").alias("norm_b"))
    return (
        l.join(r, "var").where(F.col("a") < F.col("b"))
        .where(F.levenshtein("norm_a", "norm_b") <= 1)
        .select("a", "b").distinct()
    )


from pyspark.sql.types import IntegerType  # noqa: E402  (session-free type)


def osa_distance(x: str, y: str) -> int:
    """Optimal-string-alignment Damerau-Levenshtein (adjacent
    transpositions, no substring reuse) — the reference's exact algorithm
    (/root/reference/util.py:16-57, the classic two-rows-ago DP).

    NOTE on oracle semantics: DuckDB's built-in ``damerau_levenshtein``
    is the UNRESTRICTED distance, which can be smaller than OSA when a
    transposition composes with another edit in the same region (e.g.
    'ca'→'abc': OSA 3, unrestricted 2; identical for all distances ≤ 1
    and whenever no such composition exists). The deterministic fixture
    corpus contains no divergent pair at any blocking-candidate site —
    pinned by tests/test_link.py::test_osa_matches_duckdb_on_fixture —
    so every dist ≤ 2 oracle comparison is exact.
    """
    if x == y:
        return 0
    lx, ly = len(x), len(y)
    prev2, prev = None, list(range(ly + 1))
    for i in range(1, lx + 1):
        cur = [i] + [0] * ly
        for j in range(1, ly + 1):
            cost = 0 if x[i - 1] == y[j - 1] else 1
            cur[j] = min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + cost)
            if (i > 1 and j > 1 and x[i - 1] == y[j - 2]
                    and x[i - 2] == y[j - 1]):
                cur[j] = min(cur[j], prev2[j - 2] + cost)
        prev2, prev = prev, cur
    return prev[ly]


@F.pandas_udf(IntegerType())
def damerau_levenshtein_udf(a, b):
    """Exact OSA Damerau-Levenshtein, Arrow-vectorized (see
    osa_distance for reference + oracle semantics)."""
    import pandas as pd

    return pd.Series([osa_distance(x, y) for x, y in zip(a, b)],
                     dtype="int32")


def dl_pairs(triples_raw: DataFrame, prefix: str = "module:") -> DataFrame:
    """LSH candidate pairs annotated with exact Damerau-Levenshtein (F4)."""
    m = normalize_mentions(triples_raw, prefix)
    cand = lsh_candidate_pairs(m)
    na = m.select(F.col("name").alias("a"), F.col("norm").alias("norm_a"))
    nb = m.select(F.col("name").alias("b"), F.col("norm").alias("norm_b"))
    return (
        cand.join(na, "a").join(nb, "b")
        .select("a", "b",
                damerau_levenshtein_udf("norm_a", "norm_b").alias("dl"))
    )


# ---------------------------------------------------------------- SQL (oracle)


def mentions_ctes(triples_rel: str = "tr", prefix: str = "module:") -> str:
    n = len(prefix) + 1
    return f"""
mentions AS (
  SELECT name, regexp_replace(lower(substr(name, {n})), '[^a-z0-9]', '', 'g') AS norm
  FROM (SELECT DISTINCT obj AS name FROM {triples_rel}
        WHERE obj LIKE '{prefix}%'))
"""


def _minhash_ctes() -> str:
    mins_parts = []
    for i in range(N_HASHES):
        key = "concat_ws('|', 'mh%d', gram)" % i
        mins_parts.append(f"min({sql_phash32(key, 'duckdb')}) AS h{i}")
    mins = ", ".join(mins_parts)
    n_bands = N_HASHES // BAND_ROWS
    band_rows = " UNION ALL ".join(
        f"SELECT name, {j} AS band, "
        + " || '_' || ".join(
            f"CAST(h{j * BAND_ROWS + r} AS VARCHAR)" for r in range(BAND_ROWS)
        )
        + " AS key FROM sig"
        for j in range(n_bands)
    )
    return f"""
grams AS (
  SELECT DISTINCT name, substr(norm, i, 3) AS gram
  FROM (SELECT name, norm, unnest(generate_series(1, greatest(length(norm) - 2, 1))) AS i
        FROM mentions)),
sig AS (SELECT name, {mins} FROM grams GROUP BY name),
bands AS ({band_rows}),
cand AS (
  SELECT DISTINCT l.name AS a, r.name AS b
  FROM bands l JOIN bands r ON l.band = r.band AND l.key = r.key AND l.name < r.name)
"""


def lsh_pairs_sql(triples_cte: str, prefix: str = "module:") -> str:
    return f"""
WITH tr AS ({triples_cte}),
{mentions_ctes('tr', prefix)},
{_minhash_ctes()}
SELECT a, b FROM cand
"""


def _verified_ctes(max_lev: int) -> str:
    pred = ("ma.norm = mb.norm" if max_lev == 0
            else f"levenshtein(ma.norm, mb.norm) <= {max_lev}")
    return f"""
edges AS (
  SELECT cand.a, cand.b FROM cand
  JOIN mentions ma ON ma.name = cand.a
  JOIN mentions mb ON mb.name = cand.b
  WHERE {pred})
"""


def verified_pairs_sql(triples_cte: str, prefix: str = "module:",
                       max_lev: int = 0) -> str:
    return f"""
WITH tr AS ({triples_cte}),
{mentions_ctes('tr', prefix)},
{_minhash_ctes()},
{_verified_ctes(max_lev)}
SELECT a, b FROM edges
"""


def _components_ctes() -> str:
    """Recursive min-reachable-label closure over the ``edges`` CTE."""
    return """
sym AS (SELECT a, b FROM edges UNION SELECT b, a FROM edges),
reach AS (
  WITH RECURSIVE rr(node, r) AS (
    SELECT a AS node, a AS r FROM sym
    UNION
    SELECT rr.node, sym.b FROM rr JOIN sym ON sym.a = rr.r)
  SELECT node, min(r) AS comp FROM rr GROUP BY node)
"""


def canonical_map_sql(triples_cte: str, prefix: str = "module:",
                      max_lev: int = 0) -> str:
    return f"""
WITH tr AS ({triples_cte}),
{mentions_ctes('tr', prefix)},
{_minhash_ctes()},
{_verified_ctes(max_lev)},
{_components_ctes()}
SELECT mentions.name, coalesce(reach.comp, mentions.name) AS canon
FROM mentions LEFT JOIN reach ON reach.node = mentions.name
"""


def canonical_tr_ctes(raw_cte: str, prefix: str = "module:") -> str:
    """CTE chain: raw triples (``tr0``) → linking → canonical triples ``tr``.

    This is the oracle analog of extract → link → canonicalize; downstream
    oracle fragments (encoding, types, scoring) build on ``tr``.
    """
    return f"""
tr0 AS ({raw_cte}),
{mentions_ctes('tr0', prefix)},
{_minhash_ctes()},
{_verified_ctes(0)},
{_components_ctes()},
cmap AS (
  SELECT mentions.name, coalesce(reach.comp, mentions.name) AS canon
  FROM mentions LEFT JOIN reach ON reach.node = mentions.name),
tr AS (
  SELECT DISTINCT subj, pred, coalesce(cmap.canon, tr0.obj) AS obj
  FROM tr0 LEFT JOIN cmap ON cmap.name = tr0.obj)
"""


def canonical_triples_sql(triples_cte: str, prefix: str = "module:") -> str:
    return (f"WITH {canonical_tr_ctes(triples_cte, prefix)} "
            "SELECT subj, pred, obj FROM tr")


_DELETES_SQL = (
    "[CASE WHEN i = 0 THEN norm"
    " ELSE substr(norm, 1, i - 1) || substr(norm, i + 1) END"
    " for i in generate_series(0, length(norm))]"
)


def symspell_pairs_sql(triples_cte: str, prefix: str = "module:") -> str:
    return f"""
WITH tr AS ({triples_cte}),
{mentions_ctes('tr', prefix)},
vars AS (
  SELECT DISTINCT name, norm, unnest({_DELETES_SQL}) AS var FROM mentions)
SELECT DISTINCT l.name AS a, r.name AS b
FROM vars l JOIN vars r ON l.var = r.var AND l.name < r.name
WHERE levenshtein(l.norm, r.norm) <= 1
"""


def dl_pairs_sql(triples_cte: str, prefix: str = "module:") -> str:
    return f"""
WITH tr AS ({triples_cte}),
{mentions_ctes('tr', prefix)},
{_minhash_ctes()}
SELECT cand.a, cand.b, damerau_levenshtein(ma.norm, mb.norm) AS dl
FROM cand JOIN mentions ma ON ma.name = cand.a
JOIN mentions mb ON mb.name = cand.b
"""
