"""Similarity search over the ``embeddings`` table (array<float> column).

* brute-force cosine top-k — the exactness baseline: query set × corpus
  cross join, dot products via ``zip_with`` + ``aggregate`` (JVM-side,
  whole-stage-codegen; no Python). Cross-engine exactness: both Spark and
  the DuckDB oracle fold the products sequentially in double, giving
  bit-identical sums (verified), so scores compare exactly after round(6).
* banded LSH ANN — the scale path, same layout as the MinHash dedup
  (kgspark.dedup): B independent hash tables (bands), each keyed by the
  sign bits of R deterministic ±1 hyperplanes, plus 1-bit MULTI-PROBE on
  the query side (all Hamming-distance-≤1 keys per band). Candidates =
  union over bands of same-(band, key) rows; exact cosine re-rank on the
  candidates.

Scale notes: candidate generation is a hash join on (band, key) — never a
single global bucketing of the corpus. Expected bucket size is N / 2^R per
band: pick R ≈ log2(N / target_bucket) so buckets stay O(near-dup group)
at any corpus size (R, B are plumbed through every operator), and the
1-bit probes recover the recall lost to higher R. Pair-probability:
p_plane(s) = 1 - arccos(s)/π; P(candidate) = 1 - ∏_bands
(1 - [p^R + R·p^(R-1)(1-p)]) — ≈1.0 for true near-duplicates (s ≥ 0.9)
at the defaults (B=6, R=8). The recall floor on the fixture is pinned by
a pytest against the brute-force baseline.
"""

from __future__ import annotations

from hashlib import md5 as _md5

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kgspark.hashing import phash32, sql_phash32

N_BANDS = 6
BAND_PLANES = 8  # fixture-scale fallback; prefer auto_band_planes(N)
TARGET_BUCKET = 2  # expected rows per (band, key) bucket
MIN_PLANES, MAX_PLANES = 4, 30
DIM = 64


def auto_band_planes(n: int, target_bucket: int = TARGET_BUCKET) -> int:
    """Scale-default plane count: R ≈ log2(N / target_bucket), clamped.

    Expected bucket size per band is N / 2^R, so deriving R from the
    corpus size keeps buckets O(near-dup group) at ANY corpus size — a
    fixed R=8 would hand a naive caller 4M-row buckets at 10^9 vectors.
    At the sf0.01 fixture (N=500) this yields exactly the historical
    R=8, so oracle rows are unchanged. The count is metadata-cheap on
    parquet sources.
    """
    import math

    r = math.ceil(math.log2(max(2, n) / target_bucket))
    return max(MIN_PLANES, min(MAX_PLANES, r))


def _resolve_planes(emb: DataFrame, band_planes: int | None) -> int:
    return auto_band_planes(emb.count()) if band_planes is None \
        else band_planes


def _py_phash32(key: str) -> int:
    return int(_md5(key.encode()).hexdigest()[:8], 16)


def lsh_planes(n_bands: int = N_BANDS, band_planes: int = BAND_PLANES,
               dim: int = DIM) -> list[list[list[int]]]:
    """Deterministic ±1 hyperplanes, [band][row][dim], shared with the
    oracle (both engines derive them from the same portable md5)."""
    return [
        [
            [1 if _py_phash32(f"pl|{b}|{r}|{i}") % 2 == 1 else -1
             for i in range(dim)]
            for r in range(band_planes)
        ]
        for b in range(n_bands)
    ]


def _dot(x, y):
    return F.aggregate(
        F.zip_with(x, y, lambda a, b: a.cast("double") * b.cast("double")),
        F.lit(0.0), lambda acc, v: acc + v,
    )


def with_norm(emb: DataFrame) -> DataFrame:
    return emb.withColumn("norm", F.sqrt(_dot(F.col("embedding"), F.col("embedding"))))


def ann_bruteforce(emb: DataFrame, k: int = 5, query_mod: int = 25) -> DataFrame:
    """→ (q_id, vec_id, cos, rnk): exact top-k cosine neighbors per query."""
    from kgspark.util import spread_input

    # single-file corpus scans as one partition — the O(Q·N·d) dot fold
    # would run on a single task (guide §2.5)
    e = with_norm(spread_input(emb))
    q = e.where(F.col("vec_id") % query_mod == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv"),
        F.col("norm").alias("qn"))
    pairs = q.crossJoin(e.select("vec_id", "embedding", "norm")) \
        .where(F.col("vec_id") != F.col("q_id"))
    cos = F.round(_dot(F.col("qv"), F.col("embedding"))
                  / (F.col("qn") * F.col("norm")), 6)
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), "vec_id")
    return (
        pairs.withColumn("cos", cos)
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("q_id", "vec_id", "cos", "rnk")
    )


def ccorr_col(a, b, d: int = DIM) -> F.Column:
    """F8 circular correlation: ccorr(a,b)[k] = Σ_i a[i]·b[(i+k) mod d].

    The reference computes it via FFT (`ifft(conj(fft(a))·fft(b)).real`,
    /root/reference/util.py:390-391 — the HolE composition used by
    embeddings.py:636); by the correlation theorem that equals d dot
    products of ``a`` against the k-rotated ``b``, which is how we
    express it: slice-concat rotation + the same sequential JVM fold as
    the cosine path (no UDF, and DuckDB's list_dot_product reproduces
    the fold bit-identically for the oracle). O(d²) per pair — right
    for scoring candidate pairs at embedding dims; at very large d the
    FFT route needs a pandas UDF.
    """
    out = []
    for k in range(d):
        rot = F.concat(F.slice(b, k + 1, d - k), F.slice(b, 1, k)) if k \
            else b
        out.append(_dot(a, rot))
    return F.array(*out)


def ccorr_topk(emb: DataFrame, k: int = 5, query_mod: int = 25,
               dim: int = DIM) -> DataFrame:
    """→ (q_id, vec_id, pos, val): the full circular-correlation vector
    for every brute-force top-k neighbor pair — the HolE scoring surface
    (reference embeddings.py:636 scores are R[p]·ccorr(E[s], E[o]); the
    trained-embedding part is out of scope, the composition operator is
    this)."""
    pairs = ann_bruteforce(emb, k, query_mod).select("q_id", "vec_id")
    qe = emb.select(F.col("vec_id").alias("q_id"),
                    F.col("embedding").alias("qv"))
    ne = emb.select("vec_id", F.col("embedding").alias("nv"))
    return (
        pairs.join(qe, "q_id").join(ne, "vec_id")
        .select("q_id", "vec_id",
                F.posexplode(ccorr_col(F.col("qv"), F.col("nv"), dim))
                .alias("pos", "val"))
        .withColumn("val", F.round("val", 6))
    )


def lsh_buckets(emb: DataFrame, n_bands: int = N_BANDS,
                band_planes: int = BAND_PLANES) -> DataFrame:
    """→ (vec_id, band, key): one hash-table key per band, computed in a
    single columnar projection (posexplode of the per-band key array)."""
    from kgspark.util import spread_input

    planes = lsh_planes(n_bands, band_planes)
    band_keys = []
    for b in range(n_bands):
        key = F.lit(0).cast("long")
        for r in range(band_planes):
            lit = F.array(*[F.lit(float(x)) for x in planes[b][r]])
            d = _dot(F.col("embedding"), lit)
            key = key + F.when(d > 0, F.lit(1 << r)).otherwise(F.lit(0))
        band_keys.append(key)
    # bands·planes·d multiply-adds per row — spread a single-file scan
    return spread_input(emb).select(
        "vec_id", F.posexplode(F.array(*band_keys)).alias("band", "key"))


def _probes(key_col, band_planes: int):
    """Multi-probe key set: the key itself + every 1-bit flip."""
    return F.array(key_col, *[
        key_col.bitwiseXOR(F.lit(1 << r)) for r in range(band_planes)
    ])


def lsh_candidates(emb: DataFrame, queries: DataFrame,
                   n_bands: int = N_BANDS,
                   band_planes: int = BAND_PLANES,
                   multiprobe: bool = True) -> DataFrame:
    """→ distinct (q_id, vec_id) candidate pairs: queries probe each band's
    table at Hamming distance ≤ 1 (multi-probe), corpus rows sit at their
    exact keys. ``queries`` = (q_id) subset of vec_ids."""
    bk = lsh_buckets(emb, n_bands, band_planes)
    qk = bk.join(queries.withColumnRenamed("q_id", "vec_id"), "vec_id") \
        .withColumnRenamed("vec_id", "q_id")
    if multiprobe:
        qk = qk.select(
            "q_id", "band",
            F.explode(_probes(F.col("key"), band_planes)).alias("key"))
    return (
        qk.join(bk, ["band", "key"])
        .where(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id")
        .distinct()
    )


def ann_lsh(emb: DataFrame, k: int = 5, query_mod: int = 25,
            n_bands: int = N_BANDS,
            band_planes: int | None = None) -> DataFrame:
    """Banded multi-probe LSH candidates → exact cosine re-rank → top-k.

    ``band_planes=None`` derives the per-band key width from the corpus
    size (auto_band_planes) — the scale-safe default."""
    band_planes = _resolve_planes(emb, band_planes)
    e = with_norm(emb)
    queries = emb.where(F.col("vec_id") % query_mod == 0) \
        .select(F.col("vec_id").alias("q_id"))
    cand = lsh_candidates(emb, queries, n_bands, band_planes)
    qv = e.select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv"),
                  F.col("norm").alias("qn"))
    cand = cand.join(qv, "q_id").join(e.select("vec_id", "embedding", "norm"),
                                      "vec_id")
    cos = F.round(_dot(F.col("qv"), F.col("embedding"))
                  / (F.col("qn") * F.col("norm")), 6)
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), "vec_id")
    return (
        cand.withColumn("cos", cos)
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("q_id", "vec_id", "cos", "rnk")
    )


def embedding_near_dup(emb: DataFrame, threshold: float = 0.95,
                       n_bands: int = N_BANDS,
                       band_planes: int | None = None) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (a < b) via the banded tables:
    left side probes (1-bit multi-probe), right side exact keys — the
    Hamming-≤1 candidate predicate is symmetric, so a<b loses nothing."""
    band_planes = _resolve_planes(emb, band_planes)
    e = with_norm(emb)
    bk = lsh_buckets(emb, n_bands, band_planes)
    l = bk.select(
        "band", F.col("vec_id").alias("a"),
        F.explode(_probes(F.col("key"), band_planes)).alias("key"))
    r = bk.select("band", "key", F.col("vec_id").alias("b"))
    pairs = (
        l.join(r, ["band", "key"])
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    va = e.select(F.col("vec_id").alias("a"), F.col("embedding").alias("va"),
                  F.col("norm").alias("na"))
    vb = e.select(F.col("vec_id").alias("b"), F.col("embedding").alias("vb"),
                  F.col("norm").alias("nb"))
    cos = F.round(_dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6)
    return (
        pairs.join(va, "a").join(vb, "b")
        .withColumn("cos", cos)
        .where(F.col("cos") >= threshold)
        .select("a", "b", "cos")
    )


# ------------------------------------------------------------------ IVF-flat

N_CENTROIDS = 16
NPROBE = 3


def auto_centroids(n: int) -> int:
    """Scale-default IVF list count ≈ √N (the standard IVF sizing:
    per-list size and list count balance at √N), clamped to [4, 4096].
    At the 500-vector fixture this is the historical 16."""
    import math

    r = 2 ** round(math.log2(max(4.0, math.sqrt(max(1, n)))))
    return max(4, min(4096, int(r)))


def ivf_centroids(emb: DataFrame, n_centroids: int | None = None) -> DataFrame:
    """→ (cid, cvec): deterministic seed-vector centroids — the corpus
    vectors ranked by the portable hash of their id (content-keyed, so
    Spark and the DuckDB oracle pick identical seeds, and no float
    averaging is involved — assignments stay bit-stable). A k-means
    refinement would tighten the lists but makes argmin decisions hang
    on accumulation order; seed vectors are the standard 'IVF with
    random coarse quantizer' baseline."""
    if n_centroids is None:
        n_centroids = auto_centroids(emb.count())
    return (
        emb.select("vec_id", "embedding",
                   phash32([F.col("vec_id")], "ivfseed").alias("_h"))
        .orderBy("_h", "vec_id").limit(n_centroids)
        .select(F.col("vec_id").alias("cid"),
                F.col("embedding").alias("cvec"))
    )


def ivf_centroids_refined(emb: DataFrame,
                          n_centroids: int | None = None,
                          d: int | None = DIM) -> DataFrame:
    """→ (cid, cvec): ONE Lloyd refinement pass over the hash-picked
    seed centroids — assign every corpus vector to its nearest seed
    (top-1 cosine, the same broadcast map as the list build), then
    re-average each cluster element-wise. Two narrow jobs: the
    assignment map and one hash aggregate of d-column partial sums
    (map-side combine — never a per-cluster vector collect).

    Cheap, and typically tightens the lists (higher recall at the same
    nprobe) vs raw seeds. Determinism: refined components are ROUNDED
    to 6dp — the established Spark↔DuckDB float convention — so both
    sides' order-dependent means agree and every downstream argmin sees
    identical values. A seed with an empty cluster keeps its (rounded)
    seed vector; in practice each seed's own vector lands in its
    cluster (self-cosine 1), so clusters are non-empty."""
    cents = ivf_centroids(emb, n_centroids)
    assign = ivf_assign(emb, cents, nprobe=1)
    if d is None:
        # explicit opt-in probe for non-DIM corpora; guards empty input
        row = emb.select("embedding").first()
        if row is None:
            return cents.select(
                "cid", F.transform(F.col("cvec"),
                                   lambda x: F.round(x, 6)).alias("cvec"))
        d = len(row["embedding"])
    mem = assign.join(emb, "vec_id")
    means = mem.groupBy("cid").agg(
        *[F.round(F.avg(F.col("embedding")[i]), 6).alias(f"_m{i}")
          for i in range(d)])
    refined = means.select(
        "cid", F.array(*[F.col(f"_m{i}") for i in range(d)]).alias("rvec"))
    seed_rounded = F.transform(F.col("cvec"), lambda x: F.round(x, 6))
    return (cents.join(refined, "cid", "left")
            .select("cid",
                    F.coalesce(F.col("rvec"), seed_rounded).alias("cvec")))


def ivf_assign(emb: DataFrame, cents: DataFrame,
               nprobe: int = 1) -> DataFrame:
    """→ (vec_id, cid): each vector's top-``nprobe`` centroids by cosine
    (ties by cid). The centroid table is tiny → broadcast; assignment is
    a narrow map over the corpus — the IVF build is one pass."""
    e = with_norm(emb)
    cn = cents.select(
        "cid", "cvec",
        F.sqrt(_dot(F.col("cvec"), F.col("cvec"))).alias("cn"))
    scored = e.join(F.broadcast(cn)).select(
        "vec_id", "cid",
        (_dot(F.col("embedding"), F.col("cvec"))
         / (F.col("norm") * F.col("cn"))).alias("_cs"))
    w = Window.partitionBy("vec_id").orderBy(F.desc("_cs"), "cid")
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= nprobe).select("vec_id", "cid")
    )


def ann_ivf(emb: DataFrame, k: int = 5, query_mod: int = 25,
            n_centroids: int | None = None,
            nprobe: int = NPROBE, refine: bool = True) -> DataFrame:
    """IVF-flat ANN: corpus vectors live in their nearest centroid's
    inverted list; a query probes its ``nprobe`` nearest lists and
    exact-cosine re-ranks only those candidates → (q_id, vec_id, cos,
    rnk). Work per query is O(n_centroids + n/n_centroids · nprobe)
    instead of O(n) — with √N lists the classic √N speedup; candidate
    generation is two hash joins on ``cid``, no all-pairs anywhere.
    ``refine=True`` (default) runs one Lloyd pass over the seed
    centroids first (see :func:`ivf_centroids_refined`)."""
    cents = (ivf_centroids_refined(emb, n_centroids) if refine
             else ivf_centroids(emb, n_centroids))
    lists = ivf_assign(emb, cents, nprobe=1)
    queries = emb.where(F.col("vec_id") % query_mod == 0)
    qprobe = ivf_assign(queries, cents, nprobe=nprobe) \
        .withColumnRenamed("vec_id", "q_id")
    cand = qprobe.join(lists, "cid").select("q_id", "vec_id") \
        .where(F.col("q_id") != F.col("vec_id")).distinct()
    e = with_norm(emb)
    qv = e.select(F.col("vec_id").alias("q_id"),
                  F.col("embedding").alias("qv"), F.col("norm").alias("qn"))
    cand = cand.join(qv, "q_id").join(
        e.select("vec_id", "embedding", "norm"), "vec_id")
    cos = F.round(_dot(F.col("qv"), F.col("embedding"))
                  / (F.col("qn") * F.col("norm")), 6)
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), "vec_id")
    return (
        cand.withColumn("cos", cos)
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("q_id", "vec_id", "cos", "rnk")
    )


# ---------------------------------------------------------------- SQL (oracle)

_DOT = ("list_dot_product(CAST({x} AS DOUBLE[]), CAST({y} AS DOUBLE[]))")


def _norm_cte() -> str:
    d = _DOT.format(x="embedding", y="embedding")
    return f"en AS (SELECT vec_id, embedding, sqrt({d}) AS norm FROM embeddings)"


def ann_bruteforce_sql(k: int = 5, query_mod: int = 25) -> str:
    d = _DOT.format(x="q.embedding", y="e.embedding")
    return f"""
WITH {_norm_cte()},
qs AS (SELECT * FROM en WHERE vec_id % {query_mod} = 0),
scored AS (
  SELECT q.vec_id AS q_id, e.vec_id,
         round({d} / (q.norm * e.norm), 6) AS cos
  FROM qs q CROSS JOIN en e WHERE e.vec_id <> q.vec_id),
rk AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rnk
       FROM scored)
SELECT q_id, vec_id, cos, rnk FROM rk WHERE rnk <= {k}
"""


def ccorr_topk_sql(k: int = 5, query_mod: int = 25, dim: int = DIM) -> str:
    """Oracle for :func:`ccorr_topk`: per top-k pair and rotation k,
    list_dot_product of the query embedding against the k-rotated
    neighbor embedding (bit-identical to the Spark sequential fold)."""
    d = _DOT.format(x="q.embedding", y="e.embedding")
    rot = ("list_concat(list_slice(ne.embedding, ks.pos + 1, {dim}), "
           "list_slice(ne.embedding, 1, ks.pos))").format(dim=dim)
    dd = _DOT.format(x="qe.embedding", y=rot)
    return f"""
WITH {_norm_cte()},
ccqs AS (SELECT * FROM en WHERE vec_id % {query_mod} = 0),
ccscored AS (
  SELECT q.vec_id AS q_id, e.vec_id,
         round({d} / (q.norm * e.norm), 6) AS cos
  FROM ccqs q CROSS JOIN en e WHERE e.vec_id <> q.vec_id),
ccrk AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rnk
         FROM ccscored),
ccpairs AS (SELECT q_id, vec_id FROM ccrk WHERE rnk <= {k}),
ccks AS (SELECT unnest(generate_series(0, {dim - 1})) AS pos)
SELECT p.q_id, p.vec_id, ks.pos,
       round({dd}, 6) AS val
FROM ccpairs p
JOIN embeddings qe ON qe.vec_id = p.q_id
JOIN embeddings ne ON ne.vec_id = p.vec_id
CROSS JOIN ccks ks
"""


def ann_ivf_sql(k: int = 5, query_mod: int = 25,
                n_centroids: int = N_CENTROIDS,
                nprobe: int = NPROBE, dim: int = DIM) -> str:
    """Oracle for :func:`ann_ivf`: identical hash-picked seed centroids,
    one Lloyd refinement pass (per-cluster element-wise means, rounded
    to 6dp on both sides), top-1 list assignment / top-nprobe query
    probing by cosine (ties by cid), exact re-rank of probed
    candidates."""
    seed_h = sql_phash32(
        "concat_ws('|', 'ivfseed', CAST(vec_id AS VARCHAR))", "duckdb")
    d_qe = _DOT.format(x="q.embedding", y="e.embedding")
    return f"""
WITH {_norm_cte()},
ivc0 AS (
  SELECT vec_id AS cid, embedding AS cvec
  FROM (SELECT vec_id, embedding, {seed_h} AS h FROM embeddings
        ORDER BY h, vec_id LIMIT {n_centroids})),
ivc0n AS (SELECT cid, cvec,
                 sqrt({_DOT.format(x="cvec", y="cvec")}) AS cn FROM ivc0),
iva0 AS (
  SELECT en.vec_id, ivc0n.cid,
         {_DOT.format(x="en.embedding", y="ivc0n.cvec")}
           / (en.norm * ivc0n.cn) AS cs
  FROM en CROSS JOIN ivc0n),
ivm0 AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY cs DESC, cid) AS rn
    FROM iva0) WHERE rn = 1),
ivmem AS (SELECT m.cid, e.embedding
          FROM ivm0 m JOIN embeddings e USING (vec_id)),
ivslot AS (
  SELECT cid, i, round(avg(embedding[i]), 6) AS m
  FROM ivmem CROSS JOIN generate_series(1, {dim}) t(i)
  GROUP BY cid, i),
ivref0 AS (SELECT cid, list(m ORDER BY i) AS rvec
           FROM ivslot GROUP BY cid),
ivc AS (
  SELECT ivc0.cid,
         coalesce(ivref0.rvec,
                  list_transform(ivc0.cvec, x -> round(x, 6))) AS cvec
  FROM ivc0 LEFT JOIN ivref0 USING (cid)),
ivcn AS (SELECT cid, cvec,
                sqrt({_DOT.format(x="cvec", y="cvec")}) AS cn FROM ivc),
ivs AS (
  SELECT en.vec_id, ivcn.cid,
         {_DOT.format(x="en.embedding", y="ivcn.cvec")}
           / (en.norm * ivcn.cn) AS cs
  FROM en CROSS JOIN ivcn),
ivr AS (SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY cs DESC, cid) AS rn
        FROM ivs),
ivlists AS (SELECT vec_id, cid FROM ivr WHERE rn = 1),
ivq AS (SELECT vec_id AS q_id, cid FROM ivr
        WHERE rn <= {nprobe} AND vec_id % {query_mod} = 0),
ivcand AS (
  SELECT DISTINCT ivq.q_id, ivlists.vec_id
  FROM ivq JOIN ivlists ON ivlists.cid = ivq.cid
  WHERE ivlists.vec_id <> ivq.q_id),
ivscored AS (
  SELECT c.q_id, c.vec_id,
         round({d_qe} / (q.norm * e.norm), 6) AS cos
  FROM ivcand c
  JOIN en q ON q.vec_id = c.q_id
  JOIN en e ON e.vec_id = c.vec_id),
ivrk AS (SELECT *, row_number() OVER (PARTITION BY q_id
                                      ORDER BY cos DESC, vec_id) AS rnk
         FROM ivscored)
SELECT q_id, vec_id, cos, rnk FROM ivrk WHERE rnk <= {k}
"""


def _buckets_cte(n_bands: int = N_BANDS, band_planes: int = BAND_PLANES) -> str:
    planes = lsh_planes(n_bands, band_planes)
    band_rows = []
    for b in range(n_bands):
        terms = []
        for r in range(band_planes):
            arr = "[" + ", ".join(f"{float(x):.1f}" for x in planes[b][r]) + "]"
            d = _DOT.format(x="embedding", y=arr)
            terms.append(f"(CASE WHEN {d} > 0 THEN {1 << r} ELSE 0 END)")
        band_rows.append(
            f"SELECT vec_id, {b} AS band, CAST(" + " + ".join(terms)
            + " AS BIGINT) AS key FROM embeddings")
    body = " UNION ALL ".join(band_rows)
    return f"eb AS ({body})"


def _probes_cte(band_planes: int = BAND_PLANES) -> str:
    vals = ", ".join(["(0)"] + [f"({1 << r})" for r in range(band_planes)])
    return f"flips(f) AS (VALUES {vals})"


def _oracle_planes(band_planes: int | None) -> int:
    """Mirror of the Spark-side auto default for oracle SQL strings: read
    the corpus size of the dataset the driver compares at (one DuckDB
    parquet-metadata count)."""
    if band_planes is not None:
        return band_planes
    import duckdb

    from kgspark.util import oracle_sf_dir

    n = duckdb.sql("SELECT count(*) FROM read_parquet("
                   f"'{oracle_sf_dir()}/embeddings.parquet')").fetchone()[0]
    return auto_band_planes(int(n))


def ann_lsh_sql(k: int = 5, query_mod: int = 25,
                n_bands: int = N_BANDS,
                band_planes: int | None = None) -> str:
    band_planes = _oracle_planes(band_planes)
    d = _DOT.format(x="q.embedding", y="e.embedding")
    return f"""
WITH {_norm_cte()}, {_buckets_cte(n_bands, band_planes)},
{_probes_cte(band_planes)},
qk AS (
  SELECT eb.vec_id AS q_id, eb.band, xor(eb.key, flips.f) AS key
  FROM eb CROSS JOIN flips WHERE eb.vec_id % {query_mod} = 0),
cand AS (
  SELECT DISTINCT qk.q_id, eb.vec_id
  FROM qk JOIN eb ON eb.band = qk.band AND eb.key = qk.key
  WHERE eb.vec_id <> qk.q_id),
scored AS (
  SELECT cand.q_id, cand.vec_id,
         round({d} / (q.norm * e.norm), 6) AS cos
  FROM cand JOIN en q ON q.vec_id = cand.q_id
  JOIN en e ON e.vec_id = cand.vec_id),
rk AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rnk
       FROM scored)
SELECT q_id, vec_id, cos, rnk FROM rk WHERE rnk <= {k}
"""


def embedding_near_dup_sql(threshold: float = 0.95,
                           n_bands: int = N_BANDS,
                           band_planes: int | None = None) -> str:
    band_planes = _oracle_planes(band_planes)
    d = _DOT.format(x="a.embedding", y="b.embedding")
    return f"""
WITH {_norm_cte()}, {_buckets_cte(n_bands, band_planes)},
{_probes_cte(band_planes)},
lk AS (SELECT eb.vec_id AS a, eb.band, xor(eb.key, flips.f) AS key
       FROM eb CROSS JOIN flips),
cpairs AS (
  SELECT DISTINCT lk.a, eb.vec_id AS b
  FROM lk JOIN eb ON eb.band = lk.band AND eb.key = lk.key
  WHERE lk.a < eb.vec_id)
SELECT cpairs.a, cpairs.b,
       round({d} / (a.norm * b.norm), 6) AS cos
FROM cpairs JOIN en a ON a.vec_id = cpairs.a
JOIN en b ON b.vec_id = cpairs.b
WHERE round({d} / (a.norm * b.norm), 6) >= {threshold}
"""
