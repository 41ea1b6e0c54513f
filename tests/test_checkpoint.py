"""Checkpoint/resume: lineage fingerprints, per-partition counters."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from kgspark.checkpoint import Checkpointer, run_pipeline, with_salt
from tests.conftest import SF_TINY


def test_stage_resume_and_invalidation(spark, tmp_path):
    wd = str(tmp_path / "ck")
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(10).select(F.col("id").alias("x"))

    ck = Checkpointer(spark, wd)
    a = ck.stage("s1", build, params={"v": 1})
    assert calls["n"] == 1 and a.count() == 10

    ck2 = Checkpointer(spark, wd)
    b = ck2.stage("s1", build, params={"v": 1})
    assert calls["n"] == 1, "resume must not recompute"
    assert b.count() == 10
    assert ck2.events[0]["action"] == "resume"

    ck3 = Checkpointer(spark, wd)
    ck3.stage("s1", build, params={"v": 2})
    assert calls["n"] == 2, "param change must invalidate"


def test_crash_between_data_and_manifest_recomputes(spark, tmp_path):
    """A crash after the new data is written but before the manifest is
    must NOT let a later run resume the old fingerprint against the new
    data: the old manifest is invalidated before data is touched."""
    wd = str(tmp_path / "ck")
    calls = {"n": 0}

    def build(v):
        def _b():
            calls["n"] += 1
            return spark.range(v).select(F.col("id").alias("x"))
        return _b

    ck = Checkpointer(spark, wd)
    ck.stage("s1", build(10), params={"v": 1})

    # simulate: re-run with v=2 crashes right after the parquet swap —
    # i.e. data is v=2's but no manifest was written
    ck2 = Checkpointer(spark, wd)
    fp2 = ck2.fingerprint("s1", {"v": 2}, [])
    assert fp2 != ck.fingerprint("s1", {"v": 1}, [])
    orig_dump = json.dump

    def boom(*a, **kw):
        raise RuntimeError("crash before manifest write")

    json.dump = boom
    try:
        ck2.stage("s1", build(20), params={"v": 2})
    except RuntimeError:
        pass
    finally:
        json.dump = orig_dump
    assert calls["n"] == 2

    # a v=1 run must now RECOMPUTE (old manifest gone), not resume 20 rows
    ck3 = Checkpointer(spark, wd)
    out = ck3.stage("s1", build(10), params={"v": 1})
    assert calls["n"] == 3, "stale-manifest resume after crash"
    assert out.count() == 10


def test_dependency_invalidation_cascades(spark, tmp_path):
    wd = str(tmp_path / "ck")
    calls = {"a": 0, "b": 0}

    def run(pa):
        ck = Checkpointer(spark, wd)
        ck.stage("a", lambda: (calls.__setitem__("a", calls["a"] + 1),
                               spark.range(3))[1], params={"p": pa})
        ck.stage("b", lambda: (calls.__setitem__("b", calls["b"] + 1),
                               spark.range(4))[1], deps=["a"])

    run(1)
    assert calls == {"a": 1, "b": 1}
    run(1)
    assert calls == {"a": 1, "b": 1}
    run(2)  # upstream param change recomputes BOTH
    assert calls == {"a": 2, "b": 2}


def test_manifest_contents(spark, tmp_path):
    wd = str(tmp_path / "ck")
    ck = Checkpointer(spark, wd)
    df = spark.createDataFrame(
        [(1, 1, 2), (2, 1, 3), (5, 2, 6)], "s long, p int, o long")
    ck.stage("t", lambda: df, partition_by=["p"])
    m = json.load(open(os.path.join(wd, "t", MANIFEST_NAME())))
    assert m["rows"] == 3
    assert sum(x["rows"] for x in m["partitions"]) == 3
    assert any("p=1" in x["file"] for x in m["partitions"])
    assert m["partition_by"] == ["p"]


def test_manifest_matches_spark_scan(spark, tmp_path):
    """Footer row counters and the recorded schema equal what a Spark
    scan of the written stage reports, per file, for a partitioned and
    an unpartitioned stage (empty files are left out, as Spark has no
    rows for them)."""
    wd = str(tmp_path / "ck")
    ck = Checkpointer(spark, wd)
    df = spark.range(50).select(
        F.col("id").alias("s"), (F.col("id") % 3).cast("int").alias("p"),
        F.array("id").alias("arr")).repartition(4)
    ck.stage("t", lambda: df, partition_by=["p"])
    ck.stage("u", lambda: df.where(F.col("s") < 3).repartition(8))
    for name, rows in (("t", 50), ("u", 3)):
        data = os.path.join(wd, name, "data")
        m = json.load(open(os.path.join(wd, name, MANIFEST_NAME())))
        scan = spark.read.parquet(data)
        assert m["schema"] == scan.schema.jsonValue()
        assert ck.rows[name] == m["rows"] == rows
        per_file = {
            os.path.relpath(r["f"].removeprefix("file:").removeprefix("//"),
                            os.path.abspath(data)): r["n"]
            for r in scan.groupBy(F.input_file_name().alias("f"))
            .agg(F.count("*").alias("n")).collect()}
        assert {x["file"]: x["rows"] for x in m["partitions"]} == per_file


def MANIFEST_NAME():
    from kgspark.checkpoint import MANIFEST
    return MANIFEST


def test_with_salt_partition_invariant(spark):
    df = spark.createDataFrame([(i, i * 2) for i in range(100)], "s long, o long")
    a = with_salt(df.repartition(1), ["s", "o"]).collect()
    b = with_salt(df.repartition(7), ["s", "o"]).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert {r["salt"] for r in a} <= set(range(16))


def test_run_pipeline_resume_equivalence(spark, tmp_path):
    """Kill/resume analog: a second run over the same workdir resumes every
    stage and reproduces identical metrics (FIXTURES.md §5d)."""
    wd = str(tmp_path / "pipe")
    r1 = run_pipeline(spark, SF_TINY, wd, "sdvalidate", 0.05)
    r2 = run_pipeline(spark, SF_TINY, wd, "sdvalidate", 0.05)
    assert r1["metrics"] == r2["metrics"]
    assert all(e["action"] == "compute" for e in r1["events"])
    assert all(e["action"] == "resume" for e in r2["events"])
