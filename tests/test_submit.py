"""spark-submit --py-files smoke test — the north-rule launch path.

Runs the real `spark-submit` binary with the package shipped ONLY as a
`--py-files kgspark.zip` archive, from a working directory outside the
repo, so the test fails if the pipeline secretly depends on a local
checkout (the multi-executor cluster ships code exactly this way).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import zipfile

import pytest

from tests.conftest import SF_TINY

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_spark_submit_py_files_pipeline(tmp_path):
    spark_home = os.environ.get("SPARK_HOME")
    submit = (os.path.join(spark_home, "bin", "spark-submit")
              if spark_home else shutil.which("spark-submit"))
    if submit is None or not os.path.exists(submit):
        import pyspark

        submit = os.path.join(os.path.dirname(pyspark.__file__),
                              "bin", "spark-submit")
    if not os.path.exists(submit):
        pytest.skip("spark-submit binary not found")

    zpath = str(tmp_path / "kgspark.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        pkg = os.path.join(REPO, "kgspark")
        for root, _dirs, files in os.walk(pkg):
            if "__pycache__" in root:
                continue
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    z.write(full, os.path.relpath(full, REPO))

    workdir = str(tmp_path / "ck")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [submit, "--master", "local[4]",
         "--conf", "spark.sql.shuffle.partitions=8",
         "--py-files", zpath,
         os.path.join(REPO, "run_pipeline.py"),
         "--sf-dir", "/root/testdata/sf0.001",
         "--workdir", workdir],
        capture_output=True, text=True, timeout=420,
        cwd=str(tmp_path), env=env)
    assert out.returncode == 0, out.stderr[-4000:]
    line = [ln for ln in out.stdout.splitlines()
            if ln.startswith("{")][-1]
    res = json.loads(line)
    assert res["metrics"]["n_facts"] > 0
    assert res["metrics"]["n_errors"] > 0
    assert any(ev["action"] == "compute" for ev in res["events"])
    # resumability audit: a second run over the same workdir resumes
    # every stage instead of recomputing
    out2 = subprocess.run(
        [submit, "--master", "local[4]",
         "--conf", "spark.sql.shuffle.partitions=8",
         "--py-files", zpath,
         os.path.join(REPO, "run_pipeline.py"),
         "--sf-dir", "/root/testdata/sf0.001",
         "--workdir", workdir],
        capture_output=True, text=True, timeout=420,
        cwd=str(tmp_path), env=env)
    assert out2.returncode == 0, out2.stderr[-4000:]
    res2 = json.loads([ln for ln in out2.stdout.splitlines()
                       if ln.startswith("{")][-1])
    assert res2["metrics"] == res["metrics"]
    assert res2["events"], "resume audit missing"
    assert all(ev["action"] == "resume" for ev in res2["events"]), \
        res2["events"]


def test_python_workers_import_kgspark_from_any_cwd(tmp_path):
    """A PaTyBRED fit (``applyInPandas``) started from a directory outside
    the repo with no PYTHONPATH: the Python workers find kgspark through
    the session's executor environment."""
    script = tmp_path / "fit.py"
    script.write_text(f"""
import sys
sys.path.insert(0, {REPO!r})
from kgspark import patybred, pipeline
from kgspark.session import get_spark

spark = get_spark("cwd-probe", master="local[2]", shuffle_partitions=4)
g = pipeline.build_graph(spark, {SF_TINY!r})
idx = patybred.enumerate_paths(g.triples, g.n_relations)
print("models", patybred.fit_models(g.triples, idx, g.types,
                                    g.n_entities).count())
spark.stop()
""")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run([sys.executable, str(script)], capture_output=True,
                         text=True, timeout=600, cwd=str(tmp_path), env=env)
    assert out.returncode == 0, out.stderr[-4000:]
    assert "models " in out.stdout
