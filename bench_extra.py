#!/usr/bin/env python
"""Supplementary benchmarks (guide §1.4): per-operator isolation with the
noop sink, repeated runs with medians, and load-context capture.

bench.py is the FROZEN driver contract; this file exists so optimization
evidence (OPTIMIZATION_r07.md) can cite isolated, repeatable numbers
without touching the driver's measurement methodology.

Usage:
  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python bench_extra.py [reps]

Prints one JSON line: per-operator [samples...] plus medians and the
/proc/loadavg before/after (so a contended window is visible in the
record).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time


def _loadavg() -> list[float]:
    try:
        with open("/proc/loadavg") as f:
            return [float(x) for x in f.read().split()[:3]]
    except OSError:
        return []


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 3

    from pyspark.sql import functions as F

    from kgspark import (correct, dedup, encode, errorsgen, extract, link,
                         rank, scoring, simsearch, synth, textstats, typesys)
    from kgspark import patybred as pb
    from kgspark.session import get_spark
    from kgspark.util import materialize

    load_pre = _loadavg()
    spark = get_spark("kgspark-bench-extra", master=f"local[{cpus}]")
    sc = spark.sparkContext

    rf = synth.repo_files(spark, sf_dir)
    tr_raw = materialize(extract.extract_triples(rf, file_mentions=False))
    tr = materialize(link.canonicalize_triples(tr_raw))
    ents, rels = encode.build_dims(tr)
    ents, rels = materialize(ents), materialize(rels)
    enc = materialize(encode.encode_triples(tr, ents, rels))
    types = materialize(typesys.build_types(ents, enc, rels)[0])
    n_entities = ents.count()
    errs = errorsgen.inject_errors_kind1(enc, n_entities, 0.05)
    noisy = materialize(
        enc.select("s", "p", "o", F.lit(False).alias("is_error")).unionByName(
            errs.select("s", "p", "o", F.lit(True).alias("is_error"))))
    facts = noisy.select("s", "p", "o")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")

    def op_extract():
        noop(extract.extract_triples(rf, file_mentions=False))

    def op_link():
        noop(link.canonicalize_triples(tr_raw))

    def op_encode():
        e2, r2 = encode.build_dims(tr)
        noop(encode.encode_triples(tr, e2, r2))

    def op_rank():
        sc0 = scoring.sdvalidate_scores(facts, types).withColumn(
            "score", F.round("score", 6))
        noop(rank.rank_facts(sc0))

    def op_corrections():
        sc0 = scoring.sdvalidate_scores(facts, types).withColumn(
            "score", F.round("score", 6))
        rk0 = materialize(rank.rank_facts(sc0))
        correct.correct_errors(rk0, facts, types, ents, min_score=0.01,
                               min_score_gain=1.0,
                               n_entities=n_entities).count()
        correct.type_corrections(rk0, facts, types, min_score=0.01,
                                 min_score_gain=1.0).count()

    def op_evaluate():
        sc0 = scoring.sdvalidate_scores(facts, types).withColumn(
            "score", F.round("score", 6))
        rank.evaluate(rank.rank_facts(sc0).join(noisy, ["s", "p", "o"])) \
            .collect()

    def op_patybred():
        idx = pb.enumerate_paths(enc, 4)
        n_ents = enc.selectExpr("max(greatest(s, o)) m").first()["m"]
        models = pb.fit_models(enc, idx, types, int(n_ents))
        pb.score_facts(enc, idx, types, models).count()

    def op_patybred_dt():
        idx = pb.enumerate_paths(enc, 4)
        n_ents = enc.selectExpr("max(greatest(s, o)) m").first()["m"]
        models = pb.fit_models_dt(enc, idx, types, int(n_ents))
        pb.score_facts_dt(enc, idx, types, models).count()

    def op_dedup_minhash():
        dedup.dedup_minhash(docs, 0.4).count()

    def op_dedup_simhash():
        dedup.simhash_pairs(docs, 6).count()

    def op_ann():
        simsearch.ann_bruteforce(emb).count()

    def op_textstats():
        textstats.quality_scores(docs).count()
        textstats.lang_id(docs).count()

    ops = {
        "extract": op_extract,
        "link_canonicalize": op_link,
        "encode": op_encode,
        "rank": op_rank,
        "corrections": op_corrections,
        "evaluate_metrics": op_evaluate,
        "patybred_train_score": op_patybred,
        "patybred_dt_train_score": op_patybred_dt,
        "dedup_minhash": op_dedup_minhash,
        "dedup_simhash": op_dedup_simhash,
        "ann_topk": op_ann,
        "textstats": op_textstats,
    }

    samples: dict[str, list[float]] = {k: [] for k in ops}
    for rep in range(reps):
        for name, fn in ops.items():
            sc.setJobDescription(f"{name} (rep {rep})")
            t0 = time.time()
            fn()
            samples[name].append(round(time.time() - t0, 3))
            sc.setJobDescription(None)

    out = {
        "metric": "per-operator noop/count isolation (not the driver bench)",
        "unit": "sec",
        "sf": sf_dir.rstrip("/").split("sf")[-1],
        "reps": reps,
        "samples": samples,
        "medians": {k: round(statistics.median(v), 3)
                    for k, v in samples.items()},
        "mins": {k: round(min(v), 3) for k, v in samples.items()},
        "loadavg_pre": load_pre,
        "loadavg_post": _loadavg(),
        "cores": int(cpus),
    }
    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
