"""The two stores the pipeline chain (``kgspark.pipeline``) runs on.

Both answer ``stage(name, build, params, deps)`` and key a stage by its
``fingerprint``: a hash of its name, params and its deps' fingerprints
(plus the library version) — of what it is made from — so a changed
parameter re-keys its stage and every stage downstream.

* ``Checkpointer`` (parquet, the analog of the reference's NPZ stage
  files, ``load_kb.py:250-259``): resume across runs. A stage is written
  under ``<workdir>/<stage>/data`` (optionally partitioned, with an
  explicit ``salt`` column for hot-key skew) beside a ``manifest.json``
  of its fingerprint, rows, per-file row counters (read from the parquet
  footers — no Spark job), schema and wall time; a matching manifest
  reloads it.
* ``MemoryStore``: reuse within one session. Outputs are kept
  ``util.materialize``d in a dict on the ``SparkSession`` object, so
  ``spark.newSession()`` starts empty; sources (no deps) stay lazy scans,
  checkpointed leaves are not checkpointed again, layout arguments are
  ignored, and ``rows[name]`` runs one ``count()`` when first asked.

``derived`` values (a projection, ``pipeline.Graph.paths`` and the
noisy graph's path index) are kept by key in memory and rebuilt on each
parquet run.
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Callable
from hashlib import sha256

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from kgspark.hashing import phash32

MANIFEST = "manifest.json"


def with_salt(df: DataFrame, cols: list[str], buckets: int = 16,
              salt_col: str = "salt") -> DataFrame:
    """Deterministic salt in [0, buckets) from the given columns."""
    return df.withColumn(salt_col, F.pmod(phash32([F.col(c) for c in cols], "salt"),
                                          F.lit(buckets)).cast("int"))


def _file_rows(data_dir: str) -> list[dict]:
    """Per-file row counters of a written parquet dir, read from the
    footers on the driver (no Spark job); files without rows are left
    out. Sorted by path relative to ``data_dir``."""
    import pyarrow.parquet as pq

    out = []
    for root, _dirs, files in os.walk(data_dir):
        for f in files:
            if f.endswith(".parquet") and not f.startswith((".", "_")):
                path = os.path.join(root, f)
                n = pq.read_metadata(path).num_rows
                if n:
                    out.append({"file": os.path.relpath(path, data_dir),
                                "rows": n})
    return sorted(out, key=lambda x: x["file"])


class _Store:
    """The stage key both stores use (module docstring)."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._fingerprints: dict[str, str] = {}  # stage → key, this run

    def fingerprint(self, stage: str, params: dict, deps: list[str]) -> str:
        import kgspark

        payload = {
            "stage": stage,
            "params": params,
            "deps": {d: self._fingerprints.get(d, "?") for d in deps},
            # code version participates so upgrading the library invalidates
            # checkpoints written by older stage logic
            "code_version": kgspark.__version__,
        }
        return sha256(json.dumps(payload, sort_keys=True).encode()).hexdigest()

    def _key(self, name: str, params: dict | None,
             deps: list[str] | None) -> str:
        self._fingerprints[name] = self.fingerprint(name, params or {},
                                                    deps or [])
        return self._fingerprints[name]


class Checkpointer(_Store):
    """Parquet store: stage-level checkpoint/resume across runs."""

    def __init__(self, spark: SparkSession, workdir: str):
        super().__init__(spark)
        self.workdir = workdir
        os.makedirs(workdir, exist_ok=True)
        self.rows: dict[str, int] = {}  # stage → row count (from manifests)
        self.events: list[dict] = []  # audit of hits/recomputes this run

    # ------------------------------------------------------------- internals

    def _dir(self, stage: str) -> str:
        return os.path.join(self.workdir, stage)

    def _manifest_path(self, stage: str) -> str:
        return os.path.join(self._dir(stage), MANIFEST)

    def _read_manifest(self, stage: str) -> dict | None:
        try:
            with open(self._manifest_path(stage)) as f:
                return json.load(f)
        except (OSError, json.JSONDecodeError):
            return None

    # ------------------------------------------------------------------ API

    def stage(
        self,
        name: str,
        build: Callable[[], DataFrame],
        params: dict | None = None,
        deps: list[str] | None = None,
        partition_by: list[str] | None = None,
        salt: list[str] | None = None,
    ) -> DataFrame:
        """Return the stage output, recomputing only when the fingerprint
        (params + upstream lineage) changed. ``salt`` writes a ``salt``
        column hashed from those columns, which the returned DataFrame
        leaves out."""
        params = params or {}
        deps = deps or []
        fp = self._key(name, params, deps)

        m = self._read_manifest(name)
        data_dir = os.path.join(self._dir(name), "data")
        if m is not None and m.get("fingerprint") == fp and os.path.isdir(data_dir):
            self.rows[name] = m["rows"]
            self.events.append({"stage": name, "action": "resume", "rows": m["rows"]})
            # the known schema: inferring it would cost a Spark job
            out = self.spark.read.schema(
                StructType.fromJson(m["schema"])).parquet(data_dir)
            return out.drop("salt") if salt else out

        t0 = time.time()
        # Crash-safe ordering: a manifest must never describe data it did
        # not see written. (1) invalidate the old manifest BEFORE touching
        # data — any crash from here on leaves no manifest, so the next run
        # recomputes; (2) write to a temp dir and atomically swap; (3) only
        # then write the new manifest.
        try:
            os.remove(self._manifest_path(name))
        except FileNotFoundError:
            pass
        df = build()
        if salt:
            df = with_salt(df, salt)
        tmp_dir = data_dir + ".tmp"
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(tmp_dir)
        import shutil

        shutil.rmtree(data_dir, ignore_errors=True)
        os.rename(tmp_dir, data_dir)

        # read back with the written schema (partition columns come back
        # last; reading makes every field nullable)
        part = partition_by or []
        out = self.spark.read.schema(StructType(
            [f for f in df.schema if f.name not in part]
            + [df.schema[c] for c in part])).parquet(data_dir)
        per_part = _file_rows(data_dir)
        rows = self.rows[name] = sum(p["rows"] for p in per_part)
        manifest = {
            "stage": name,
            "fingerprint": fp,
            "params": params,
            "deps": deps,
            "rows": rows,
            "partitions": per_part,
            "schema": out.schema.jsonValue(),
            "partition_by": part,
            "wall_sec": round(time.time() - t0, 3),
            "written_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }
        with open(self._manifest_path(name), "w") as f:
            json.dump(manifest, f, indent=1)
        self.events.append({"stage": name, "action": "compute", "rows": rows,
                            "wall_sec": manifest["wall_sec"]})
        return out.drop("salt") if salt else out

    def derived(self, name: str, build: Callable, **key):
        """A value computed from stages; rebuilt on every run."""
        return build()


class MemoryStore(_Store):
    """In-memory store: each stage's value, kept under its key for the
    life of the SparkSession object."""

    def __init__(self, spark: SparkSession):
        super().__init__(spark)
        if not hasattr(spark, "_kgspark_stages"):
            spark._kgspark_stages = {}  # key → [value, row count]
        self._held = spark._kgspark_stages
        self.rows = self  # rows[name]: one count() per stage, on first ask

    def __getitem__(self, name: str) -> int:
        held = self._held[self._fingerprints[name]]
        if held[1] is None:
            held[1] = held[0].count()
        return held[1]

    def stage(self, name: str, build: Callable[[], DataFrame],
              params: dict | None = None, deps: list[str] | None = None,
              **layout) -> DataFrame:
        """The stage output, checkpointed once per key (``layout`` is the
        parquet store's business)."""
        from kgspark.ordering import _is_materialized
        from kgspark.util import materialize

        def kept() -> DataFrame:
            df = build()
            return df if not deps or _is_materialized(df) else materialize(df)

        return self.derived(name, kept, params, deps)

    def derived(self, name: str, build: Callable, params: dict | None = None,
                deps: list[str] | None = None):
        """A value computed from stages, built once per key."""
        key = self._key(name, params, deps)
        if key not in self._held:
            self._held[key] = [build(), None]
        return self._held[key][0]


def run_pipeline(spark: SparkSession, sf_dir: str, workdir: str,
                 method: str = "sdvalidate", p_error: float = 0.05) -> dict:
    """Checkpointed end-to-end run: the pipeline chain on the parquet
    store, every stage resumable independently.

    ``method`` is ``sdvalidate``, ``patybred`` or ``correct`` (SDValidate
    scores, then the repair stages). Layout mirrors §1.4 of SURVEY.md:
    ``triples`` partitioned by ``p`` (the per-predicate tensor slices)
    with an explicit salt column for the hot-predicate skew; dims and
    types unpartitioned.
    """
    from kgspark import pipeline

    ck = Checkpointer(spark, workdir)
    g = pipeline.construct(ck, sf_dir)
    d = pipeline.detect(ck, g, p_error, method=(
        "patybred" if method == "patybred" else "sdvalidate"))
    out = {"metrics": pipeline.metrics(d.ranked).first().asDict(),
           "events": ck.events}

    if method == "correct":
        # detect-and-REPAIR (M7/P7): name-similarity candidates →
        # range-filter → re-score → gated accept, then the repaired fact
        # table — both resumable stages like everything upstream.
        from kgspark import correct

        corr = ck.stage(
            "corrections",
            lambda: correct.correct_errors(
                d.ranked, d.facts, g.types, g.entities,
                min_score=0.01, min_score_gain=1.0),
            params={"method": method}, deps=["ranked"])
        ck.stage(
            "repaired", lambda: correct.apply_corrections(d.facts, corr),
            deps=["corrections"], partition_by=["p"])
        out["n_corrections"] = ck.rows["corrections"]
        out["n_repaired_facts"] = ck.rows["repaired"]
    return out
