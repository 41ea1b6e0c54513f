"""Extraction + encoding parity vs the DuckDB oracle and unit semantics."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from kgspark import encode, extract, synth
from tests.conftest import SF_TINY, assert_df_equal


def test_repo_files_parity(spark, duck):
    rf = synth.repo_files(spark, SF_TINY)
    assert rf.columns == ["repo", "path", "commit", "lang", "content"]
    assert_df_equal(rf, duck.execute(synth.repo_files_sql("duckdb")))


def test_repo_files_shape(spark):
    rf = synth.repo_files(spark, SF_TINY).cache()
    n = rf.count()
    assert n == 500
    # skewed repo distribution, small lang vocabulary with a hot value
    repos = rf.groupBy("repo").count().collect()
    sizes = sorted(r["count"] for r in repos)
    assert len(sizes) >= 20 and sizes[-1] >= 3 * sizes[0]
    langs = {r["lang"]: r["count"] for r in rf.groupBy("lang").count().collect()}
    assert langs["python"] >= 0.4 * n
    # commit is 40-char hex
    row = rf.first()
    assert re.fullmatch(r"[0-9a-f]{40}", row["commit"])


def test_mention_regexes():
    content = (
        "import numpy\nfrom scipy.sparse import csr\n  import os.path\n"
        "def foo(x):\n    pass\nclass Bar:\n    pass\nximport nope\n"
    )
    assert re.findall(extract.IMPORT_PATTERN, content) == [
        "numpy", "scipy.sparse", "os.path"]
    assert re.findall(extract.DEFINE_PATTERN, content) == ["foo", "Bar"]


def test_triples_parity(spark, duck):
    rf = synth.repo_files(spark, SF_TINY)
    tr = extract.extract_triples(rf)
    oracle = extract.triples_raw_sql(synth.repo_files_sql("duckdb"))
    assert_df_equal(tr, duck.execute(oracle))


def test_base_triples_same_with_file_mention_arms_auto_or_off(spark):
    """The pipeline extracts the base corpus with ``file_mentions=False``;
    its content template carries no include/testedby lines, so the auto
    (``None``) arms find nothing either."""
    rf = synth.repo_files(spark, SF_TINY)
    auto = extract.extract_triples(rf, file_mentions=None)
    off = extract.extract_triples(rf, file_mentions=False)
    assert auto.count() > 0
    assert auto.exceptAll(off).count() == 0 and off.exceptAll(auto).count() == 0


def test_pandas_udf_matches_builtin(spark):
    """The Arrow pandas-UDF extraction path ≡ JVM regexp_extract_all path."""
    rf = synth.repo_files(spark, SF_TINY)
    a = extract.extract_triples(rf, use_pandas_udf=True)
    b = extract.extract_triples(rf, use_pandas_udf=False)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_encoding_parity(spark, duck):
    rf = synth.repo_files(spark, SF_TINY)
    tr = extract.extract_triples(rf).cache()
    ents, rels = encode.build_dims(tr)
    enc = encode.encode_triples(tr, ents, rels)
    raw_cte = extract.triples_raw_sql(synth.repo_files_sql("duckdb"))
    assert_df_equal(ents, duck.execute(encode.entities_sql(raw_cte)))
    assert_df_equal(rels, duck.execute(encode.relations_sql(raw_cte)))
    assert_df_equal(enc, duck.execute(encode.encoded_sql(raw_cte)))


def test_dense_ids_partition_invariance(spark):
    """Ids must not depend on parallelism (N vs 4N requirement)."""
    rf = synth.repo_files(spark, SF_TINY)
    tr = extract.extract_triples(rf)
    a = encode.dense_ids(tr.select(tr.subj.alias("name")).repartition(1))
    b = encode.dense_ids(tr.select(tr.subj.alias("name")).repartition(16))
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_sha256_invariant(spark, duck):
    """Every row of repo_files preserves content sha256 vs the oracle's view
    of the same synthesis (per-row invariant from BASELINE.json input_hint)."""
    from pyspark.sql import functions as F

    rf = synth.repo_files(spark, SF_TINY)
    got = rf.select("repo", "path", F.sha2("content", 256).alias("sha"))
    want = duck.execute(
        "SELECT repo, path, sha256(content) AS sha FROM ("
        + synth.repo_files_sql("duckdb") + ")"
    )
    assert_df_equal(got, want)


def test_streaming_extraction_matches_batch(spark, tmp_path):
    """Incremental extraction (Structured Streaming, availableNow) over a
    two-drop corpus must produce exactly the batch extraction's distinct
    triple set, across restarts (exactly-once via the stream checkpoint)."""
    from kgspark import streaming

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    rf = synth.repo_files(spark, SF_TINY)
    a, b = rf.where("repo < 'org15'"), rf.where("repo >= 'org15'")
    a.write.parquet(src)

    streaming.run_extraction_stream(spark, src, out, ck)
    got1 = spark.read.parquet(out).select("subj", "pred", "obj").distinct()
    want1 = extract.extract_triples(a)
    assert got1.exceptAll(want1).count() == 0
    assert want1.exceptAll(got1).count() == 0

    # second drop lands; a NEW stream run (restart) picks up only it
    b.write.mode("append").parquet(src)
    streaming.run_extraction_stream(spark, src, out, ck)
    got2 = spark.read.parquet(out).select("subj", "pred", "obj").distinct()
    want2 = extract.extract_triples(rf)
    assert got2.exceptAll(want2).count() == 0
    assert want2.exceptAll(got2).count() == 0


def test_streaming_foreach_batch_compaction(spark, tmp_path):
    """foreachBatch hook: per-batch deduped triples reach the compaction
    callback; union of batches covers the batch extraction."""
    from kgspark import streaming

    src = str(tmp_path / "src2")
    ck = str(tmp_path / "ck2")
    rf = synth.repo_files(spark, SF_TINY)
    rf.write.parquet(src)
    seen = []

    streaming.foreach_batch(
        spark, src, ck,
        lambda df, bid: seen.append(df.toPandas()))
    import pandas as pd

    got = pd.concat(seen).drop_duplicates().reset_index(drop=True)
    want = extract.extract_triples(rf).toPandas()
    assert len(got) == len(want)


def test_streaming_stateful_dedup_across_batches(spark, tmp_path):
    """applyInPandasWithState dedup: duplicates arriving in a LATER
    micro-batch are dropped by the per-sha state; the first-seen log
    equals the batch dedup representative set, and restarting the
    drained stream emits nothing new (state persisted in checkpoint)."""
    import os
    import shutil
    import time

    from kgspark import streaming

    src, out, ck = (str(tmp_path / d) for d in ("src", "out", "ck"))
    os.makedirs(src)
    rows = [(i, f"text body {i % 4}", "en", "s", 11) for i in range(8)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars int")
    dups = docs.where("doc_id < 4").withColumn(
        "doc_id", F.col("doc_id") + 100)

    def one_file(df, dest):
        stage = dest + ".stage"
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        part = next(f for f in sorted(os.listdir(stage))
                    if f.endswith(".parquet"))
        shutil.move(os.path.join(stage, part), dest)
        shutil.rmtree(stage)

    now = time.time()
    one_file(docs, os.path.join(src, "b1.parquet"))
    one_file(dups, os.path.join(src, "b2.parquet"))
    os.utime(os.path.join(src, "b1.parquet"), (now - 120, now - 120))
    os.utime(os.path.join(src, "b2.parquet"), (now, now))

    streaming.run_dedup_stream(spark, src, out, ck)
    got = {(r["sha"], r["doc_id"])
           for r in spark.read.parquet(out).collect()}
    # 4 distinct texts; representative = min doc_id (batch-1 originals)
    assert got == {
        (r["sha"], r["doc_id"])
        for r in docs.selectExpr("sha2(text, 256) AS sha", "doc_id")
        .groupBy("sha").agg(F.min("doc_id").alias("doc_id")).collect()}
    assert len(got) == 4
    # drained restart: no re-emission (exactly-once on the sha log)
    streaming.run_dedup_stream(spark, src, out, ck)
    assert spark.read.parquet(out).count() == 4
    # restart WITH existing state against a new drop: old shas (even
    # with new doc_ids) never re-emit; only the genuinely new text does
    more = spark.createDataFrame(
        [(200, "text body 1", "en", "s", 11),
         (201, "brand new text", "en", "s", 14)],
        "doc_id long, text string, lang string, source string, n_chars int")
    one_file(more, os.path.join(src, "b3.parquet"))
    os.utime(os.path.join(src, "b3.parquet"), (now + 120, now + 120))
    streaming.run_dedup_stream(spark, src, out, ck)
    after = {(r["sha"], r["doc_id"])
             for r in spark.read.parquet(out).collect()}
    assert len(after) == 5 and after - got == {
        (more.selectExpr("sha2(text, 256) s").collect()[1]["s"], 201)}


def test_streaming_dedup_global_min_update_mode(spark, tmp_path):
    """Global-min variant: a LATER batch with a smaller doc_id re-emits
    the improvement (update-mode running-min state), so the compacted
    log equals the global min over all arrivals — where first-batch-wins
    would have kept the first batch's representative. Restart with
    existing state keeps improving; non-improving arrivals emit
    nothing."""
    import os
    import shutil
    import time

    from kgspark import streaming

    src, out, ck = (str(tmp_path / d) for d in ("srcm", "outm", "ckm"))
    os.makedirs(src)
    big = spark.createDataFrame(
        [(i + 1000, f"gmin text {i % 3}", "en", "s", 10)
         for i in range(6)],
        "doc_id long, text string, lang string, source string, n_chars int")
    small = spark.createDataFrame(
        [(7, "gmin text 1", "en", "s", 10)],
        "doc_id long, text string, lang string, source string, n_chars int")

    def one_file(df, dest):
        stage = dest + ".stage"
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        part = next(f for f in sorted(os.listdir(stage))
                    if f.endswith(".parquet"))
        shutil.move(os.path.join(stage, part), dest)
        shutil.rmtree(stage)

    now = time.time()
    one_file(big, os.path.join(src, "b1.parquet"))
    one_file(small, os.path.join(src, "b2.parquet"))
    os.utime(os.path.join(src, "b1.parquet"), (now - 120, now - 120))
    os.utime(os.path.join(src, "b2.parquet"), (now, now))

    streaming.run_dedup_stream_min(spark, src, out, ck)
    log = spark.read.parquet(out)
    compact = {(r["sha"], r["doc_id"])
               for r in log.groupBy("sha")
               .agg(F.min("doc_id").alias("doc_id")).collect()}
    sha1 = small.selectExpr("sha2(text, 256) s").first()["s"]
    # text 1's global min is the LATER small id 7; others keep batch-1 mins
    assert (sha1, 7) in compact and len(compact) == 3
    # the improvement was a second emission for that sha
    assert log.where(F.col("sha") == sha1).count() == 2

    # restart: a non-improving arrival emits nothing, an improving one
    # re-emits again
    more = spark.createDataFrame(
        [(5000, "gmin text 0", "en", "s", 10),   # worse than 1000
         (3, "gmin text 2", "en", "s", 10)],     # better than 1002
        "doc_id long, text string, lang string, source string, n_chars int")
    one_file(more, os.path.join(src, "b3.parquet"))
    os.utime(os.path.join(src, "b3.parquet"), (now + 120, now + 120))
    streaming.run_dedup_stream_min(spark, src, out, ck)
    log2 = spark.read.parquet(out)
    assert log2.count() == log.count() + 1  # only the improvement emitted
    compact2 = {(r["sha"], r["doc_id"])
                for r in log2.groupBy("sha")
                .agg(F.min("doc_id").alias("doc_id")).collect()}
    sha2 = more.selectExpr("sha2(text, 256) s").collect()[1]["s"]
    assert (sha2, 3) in compact2


def test_streaming_dedup_rocksdb_provider_and_ttl(spark, tmp_path):
    """State-hygiene knobs: the RocksDB state-store provider yields the
    identical first-seen log (and the session conf is restored), and
    TTL mode still dedups within the un-expired window."""
    import os
    import shutil
    import time

    from kgspark import streaming

    src, out, ck, out2, ck2 = (
        str(tmp_path / d) for d in ("src", "out", "ck", "out2", "ck2"))
    os.makedirs(src)
    rows = [(i, f"ttl text {i % 3}", "en", "s", 10) for i in range(6)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars int")
    dups = docs.where("doc_id < 3").withColumn(
        "doc_id", F.col("doc_id") + 50)

    def one_file(df, dest):
        stage = dest + ".stage"
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        part = next(f for f in sorted(os.listdir(stage))
                    if f.endswith(".parquet"))
        shutil.move(os.path.join(stage, part), dest)
        shutil.rmtree(stage)

    now = time.time()
    one_file(docs, os.path.join(src, "b1.parquet"))
    one_file(dups, os.path.join(src, "b2.parquet"))
    os.utime(os.path.join(src, "b1.parquet"), (now - 120, now - 120))
    os.utime(os.path.join(src, "b2.parquet"), (now, now))

    want = {(r["sha"], r["doc_id"])
            for r in docs.selectExpr("sha2(text, 256) AS sha", "doc_id")
            .groupBy("sha").agg(F.min("doc_id").alias("doc_id")).collect()}
    prov = "spark.sql.streaming.stateStore.providerClass"
    before = spark.conf.get(prov, "unset")
    streaming.run_dedup_stream(spark, src, out, ck, rocksdb_state=True)
    assert spark.conf.get(prov, "unset") == before  # restored
    assert {(r["sha"], r["doc_id"])
            for r in spark.read.parquet(out).collect()} == want

    # TTL mode, generous window: nothing expires during the drain, so
    # the exact-dedup contract holds unchanged
    streaming.run_dedup_stream(spark, src, out2, ck2, ttl_seconds=3600)
    assert {(r["sha"], r["doc_id"])
            for r in spark.read.parquet(out2).collect()} == want
