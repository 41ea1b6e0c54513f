"""Dictionary encoding: URIs/names → dense integer ids (SURVEY §2 S3).

Reference analog: the two-pass dictionary build at
/root/reference/load_kb.py:56-97 assigns ids in first-seen order — not
reproducible under parallelism. We instead assign ``row_number() over
(order by portable_hash(name), name)`` (1-based): deterministic,
partition-invariant and oracle-expressible. ``dense_ids`` is that
ordinal computed by ``kgspark.ordering.global_ordinal``, so it takes the
same strategy choice as every other ordinal: one task over the
checkpointed distinct-name table when its stored size is at most
``spark.sql.autoBroadcastJoinThreshold``, otherwise the range-partitioned
pattern that survives a 10^12-row dimension.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgspark.hashing import phash32, sql_phash32
from kgspark.ordering import global_ordinal


def _id_order_sql(name_sql: str = "name") -> str:
    h = sql_phash32(f"concat_ws('|', 'ids', {name_sql})", "duckdb")
    return f"{h}, {name_sql}"


def dense_ids(names: DataFrame, name_col: str = "name",
              id_col: str = "id") -> DataFrame:
    """Distinct single-column DataFrame → (id, name), 1-based dense ids
    ranked by (portable_hash(name), name)."""
    d = (names.select(F.col(name_col)).distinct()
         .withColumn("_h", phash32([F.col(name_col)], "ids")))
    return global_ordinal(d, ["_h", name_col], out=id_col) \
        .select(id_col, name_col)


def entity_dim(triples_raw: DataFrame) -> DataFrame:
    """entities(id, name): every subject and object of the string triples."""
    return dense_ids(triples_raw.select(F.col("subj").alias("name")).unionByName(
        triples_raw.select(F.col("obj").alias("name"))))


def relation_dim(triples_raw: DataFrame) -> DataFrame:
    """relations(id, name): every predicate of the string triples."""
    return dense_ids(triples_raw.select(F.col("pred").alias("name")))


def build_dims(triples_raw: DataFrame) -> tuple[DataFrame, DataFrame]:
    """entities(id, name) + relations(id, name) dims from string triples."""
    return entity_dim(triples_raw), relation_dim(triples_raw)


def encode_triples(triples_raw: DataFrame, entities: DataFrame,
                   relations: DataFrame) -> DataFrame:
    """(subj, pred, obj) strings → (s: long, p: int, o: long) id triples.

    The relations dim is tiny → broadcast. The entities dim can be huge at
    10^12-file scale → plain shuffle join (sort-merge), joined twice (subj,
    obj). AQE handles skew on hot entities (e.g. ``lang:python``).
    """
    e_s = entities.select(F.col("id").alias("s"), F.col("name").alias("subj"))
    e_o = entities.select(F.col("id").alias("o"), F.col("name").alias("obj"))
    rel = relations.select(F.col("id").cast("int").alias("p"), F.col("name").alias("pred"))
    return (
        triples_raw.join(F.broadcast(rel), "pred")
        .join(e_s, "subj")
        .join(e_o, "obj")
        .select("s", "p", "o")
    )


# ---------------------------------------------------------------- SQL (oracle)


def entities_sql(triples_cte: str) -> str:
    return f"""
WITH tr AS ({triples_cte}),
names AS (SELECT DISTINCT name FROM (
  SELECT subj AS name FROM tr UNION ALL SELECT obj FROM tr))
SELECT row_number() OVER (ORDER BY {_id_order_sql()}) AS id, name FROM names
"""


def relations_sql(triples_cte: str) -> str:
    return f"""
WITH tr AS ({triples_cte}),
names AS (SELECT DISTINCT pred AS name FROM tr)
SELECT row_number() OVER (ORDER BY {_id_order_sql()}) AS id, name FROM names
"""


def encoded_sql(triples_cte: str) -> str:
    return f"""
WITH tr AS ({triples_cte}),
names AS (SELECT DISTINCT name FROM (
  SELECT subj AS name FROM tr UNION ALL SELECT obj FROM tr)),
ent AS (SELECT row_number() OVER (ORDER BY {_id_order_sql()}) AS id, name FROM names),
rel AS (SELECT row_number() OVER (ORDER BY {_id_order_sql()}) AS id, name
        FROM (SELECT DISTINCT pred AS name FROM tr))
SELECT CAST(es.id AS BIGINT) AS s, CAST(rel.id AS INT) AS p, CAST(eo.id AS BIGINT) AS o
FROM tr
JOIN rel ON rel.name = tr.pred
JOIN ent es ON es.name = tr.subj
JOIN ent eo ON eo.name = tr.obj
"""
