"""Checkpoint/resume with per-partition lineage + counters (north rule).

Reference analog: the NPZ stage files (/root/reference/load_kb.py:250-259)
— each pipeline stage persists its output so later entry points reload
instead of recomputing. Our version:

* every stage writes parquet under ``<workdir>/<stage>/data`` (optionally
  hash-partitioned by columns — the Iceberg-table layout; the sandbox has
  no Iceberg jars, so the writer abstracts over plain partitioned parquet)
* a ``manifest.json`` records: stage name, a **fingerprint** (hash of the
  stage's parameters + its upstream manifests' fingerprints — a lineage
  chain), row count, per-file row counters (read from the parquet
  footers on the driver — no Spark job), schema, wall time
* on resume, a stage whose manifest exists with a matching fingerprint is
  loaded from parquet (lineage-truncated, like the reference reloading an
  NPZ); any parameter or upstream change invalidates the fingerprint and
  forces recompute of that stage and everything after it.

Skew handling: ``with_salt`` bakes an explicit salt column into hot-key
writes (north rule: "explicit salting of hot predicates and repo-key
skew"); readers group by (key, salt) then re-aggregate.
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


class Checkpointer:
    """Stage-level checkpoint/resume driver."""

    def __init__(self, spark: SparkSession, workdir: str):
        self.spark = spark
        self.workdir = workdir
        os.makedirs(workdir, exist_ok=True)
        self._fingerprints: dict[str, str] = {}
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

    # ------------------------------------------------------------------ API

    def stage(
        self,
        name: str,
        build: Callable[[], DataFrame],
        params: dict | None = None,
        deps: list[str] | None = None,
        partition_by: list[str] | None = None,
    ) -> DataFrame:
        """Return the stage output, recomputing only when the fingerprint
        (params + upstream lineage) changed."""
        params = params or {}
        deps = deps or []
        fp = self.fingerprint(name, params, deps)
        self._fingerprints[name] = fp

        m = self._read_manifest(name)
        data_dir = os.path.join(self._dir(name), "data")
        if m is not None and m.get("fingerprint") == fp and os.path.isdir(data_dir):
            self.rows[name] = m["rows"]
            self.events.append({"stage": name, "action": "resume", "rows": m["rows"]})
            # the known schema: inferring it would cost a Spark job
            return self.spark.read.schema(
                StructType.fromJson(m["schema"])).parquet(data_dir)

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
        return out


def run_pipeline(spark: SparkSession, sf_dir: str, workdir: str,
                 method: str = "sdvalidate", p_error: float = 0.05) -> dict:
    """Checkpointed end-to-end run; every stage resumable independently.

    Layout mirrors §1.4 of SURVEY.md: ``triples`` partitioned by ``p``
    (the per-predicate tensor slices) with an explicit salt column for the
    hot-predicate skew; dims and types unpartitioned.
    """
    from kgspark import (encode, errorsgen, extract, link, rank, scoring,
                         synth, typesys)
    from kgspark import patybred as pb

    ck = Checkpointer(spark, workdir)

    rf = ck.stage(
        "repo_files", lambda: synth.repo_files(spark, sf_dir),
        params={"sf_dir": sf_dir},
    )
    tr_raw = ck.stage(
        "triples_raw", lambda: extract.extract_triples(rf),
        deps=["repo_files"],
    )
    tr = ck.stage(
        "triples_canonical", lambda: link.canonicalize_triples(tr_raw),
        deps=["triples_raw"],
    )
    ents = ck.stage(
        "entities", lambda: encode.dense_ids(
            tr.select(F.col("subj").alias("name")).unionByName(
                tr.select(F.col("obj").alias("name")))),
        deps=["triples_canonical"],
    )
    rels = ck.stage(
        "relations", lambda: encode.dense_ids(
            tr.select(F.col("pred").alias("name"))),
        deps=["triples_canonical"],
    )
    enc = ck.stage(
        "triples", lambda: with_salt(
            encode.encode_triples(tr, ents, rels), ["s", "o"]),
        deps=["triples_canonical", "entities", "relations"],
        partition_by=["p"],
    ).drop("salt")
    types = ck.stage(
        "types", lambda: typesys.build_types(ents, enc, rels)[0],
        deps=["triples", "entities", "relations"],
    )

    n_entities = ck.rows["entities"]
    noisy = ck.stage(
        "noisy_facts",
        lambda: enc.select("s", "p", "o", F.lit(False).alias("is_error"))
        .unionByName(
            errorsgen.inject_errors_kind1(enc, n_entities, p_error)
            .select("s", "p", "o", F.lit(True).alias("is_error"))),
        params={"p_error": p_error},
        deps=["triples"],
    )

    facts = noisy.select("s", "p", "o")
    if method == "patybred":
        # path metadata is cheap to re-derive; the fitted models get their
        # own persisted stage (S6 model sink — reference pickles models,
        # patybred.py:630-655; ours are a small parquet table)
        idx = pb.enumerate_paths(facts, ck.rows["relations"])
        models = ck.stage(
            "models", lambda: pb.fit_models(facts, idx, types, n_entities),
            params={"method": method}, deps=["noisy_facts", "types"])
        scores = ck.stage(
            "scores",
            lambda: pb.score_facts(facts, idx, types, models)
            .withColumn("score", F.round("score", 6)),
            params={"method": method}, deps=["models"])
    else:
        scores = ck.stage("scores", lambda: scoring.sdvalidate_scores(
            facts, types).withColumn("score", F.round("score", 6)),
            params={"method": method}, deps=["noisy_facts", "types"])

    ranked = ck.stage(
        "ranked", lambda: rank.rank_facts(scores).join(noisy, ["s", "p", "o"]),
        deps=["scores", "noisy_facts"],
    )
    metrics = rank.evaluate(ranked).first().asDict()
    metrics = {k: (round(v, 6) if isinstance(v, float) else v)
               for k, v in metrics.items()}
    out = {"metrics": metrics, "events": ck.events}

    if method == "correct":
        # detect-and-REPAIR (M7/P7): name-similarity candidates →
        # range-filter → re-score → gated accept, then the repaired fact
        # table — both resumable stages like everything upstream.
        from kgspark import correct

        corr = ck.stage(
            "corrections",
            lambda: correct.correct_errors(
                ranked, facts, types, ents,
                min_score=0.01, min_score_gain=1.0),
            params={"method": method}, deps=["ranked"])
        repaired = ck.stage(
            "repaired", lambda: correct.apply_corrections(facts, corr),
            deps=["corrections"], partition_by=["p"])
        out["n_corrections"] = ck.rows["corrections"]
        out["n_repaired_facts"] = ck.rows["repaired"]
    return out
