"""Expected pass results, computed by DuckDB from kgspark's SQL oracles.

Results are cached per input: the key hashes the generated parquet, the
workload and the sources of kgspark and of this file, so a cached answer
is never reused for other data or other oracle code.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os

P_ERROR = 0.05      # kind-1 / kind-3 error rate of every workload
P_RESUME = 0.1      # ckpt_resume's second run changes only p_error
# The kg_corrections_ref_gate configuration: the reference's correction
# gate on the rich 6-relation corpus.
REF_MIN_SCORE, REF_GAIN, RICH_R = 0.75, 1.5, 6

# checkpoint.run_pipeline's second run must reload repo_files..types and
# recompute from noisy_facts on (its p_error changed).
RESUME_ACTIONS = [
    ("repo_files", "resume"), ("triples_raw", "resume"),
    ("triples_canonical", "resume"), ("entities", "resume"),
    ("relations", "resume"), ("triples", "resume"), ("types", "resume"),
    ("noisy_facts", "compute"), ("scores", "compute"), ("ranked", "compute"),
]


def _cache_key(root: str, workload: str, sf_dir: str) -> str:
    h = hashlib.sha256(workload.encode())
    files = [f"{sf_dir}/documents.parquet", __file__,
             *sorted(glob.glob(f"{root}/kgspark/*.py"))]
    for path in files:
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:32]


def _rows(con, sql: str) -> list[dict]:
    from kgspark.dialect import materialize_ctes

    df = con.execute(materialize_ctes(sql)).df()
    return json.loads(df.to_json(orient="records"))


def _compute(workload: str, sf_dir: str) -> dict:
    import duckdb

    from kgspark import correct, extract, patybred, pipeline, rank, synth, typesys

    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM read_parquet("
                f"'{sf_dir}/documents.parquet')")
    rich = workload == "detect_repair"
    raw = extract.triples_raw_sql(
        synth.repo_files_rich_sql("duckdb") if rich
        else synth.repo_files_sql("duckdb"))
    n_triples = _rows(con, f"WITH {typesys.kg_ctes(raw)} "
                           "SELECT count(*) AS n FROM enc")[0]["n"]
    out = {"n_triples": n_triples}
    if workload == "build_sdv":
        out["metrics"] = _rows(con, pipeline.flagship_metrics_sql(raw, P_ERROR))[0]
    elif workload == "ckpt_resume":
        out["metrics"] = _rows(con, pipeline.flagship_metrics_sql(raw, P_ERROR))[0]
        out["metrics_resumed"] = _rows(
            con, pipeline.flagship_metrics_sql(raw, P_RESUME))[0]
    else:
        # the Spark-free PaTyBRED fit reads the same generated documents
        scored = patybred._pb_scored_sql(raw, P_ERROR, sf_dir, "lgr", R=RICH_R,
                                         kind=3, replace=True)
        out["metrics"] = _rows(con, rank.evaluate_sql(
            f"WITH {scored} SELECT s, p, o, round(score, 6) AS score, "
            "is_error FROM scored"))[0]
        out["corrections"] = _rows(con, correct.corrections_pb_sql(
            raw, P_ERROR, min_score=REF_MIN_SCORE, min_score_gain=REF_GAIN,
            sf_dir=sf_dir, R=RICH_R, replace=True, require_multitype=True))
    con.close()
    return out


def expected(root: str, workload: str, sf_dir: str) -> dict:
    os.environ["SPARK_GRAFT_ORACLE_SF"] = sf_dir
    cache_dir = os.path.join(root, ".perfbench_cache")
    path = os.path.join(cache_dir, _cache_key(root, workload, sf_dir) + ".json")
    try:
        with open(path) as f:
            return json.load(f)
    except (OSError, ValueError):
        pass
    out = _compute(workload, sf_dir)
    os.makedirs(cache_dir, exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump(out, f)
    os.replace(path + ".tmp", path)
    return out


# ------------------------------------------------------------ comparison


def _same(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        return a is not None and b is not None and abs(a - b) <= 1e-6
    return a == b


def same_row(got: dict, want: dict) -> bool:
    return set(got) == set(want) and all(_same(got[k], want[k]) for k in want)


def same_rows(got: list[dict], want: list[dict], key: tuple) -> bool:
    def order(rows):
        return sorted(rows, key=lambda r: tuple(r[k] for k in key))
    return (len(got) == len(want)
            and all(same_row(a, b) for a, b in zip(order(got), order(want))))


def check(workload: str, got: dict, want: dict) -> str | None:
    """None when the pass output matches the oracle, else what differs."""
    if not same_row(got["metrics"], want["metrics"]):
        return f"metrics {got['metrics']} != {want['metrics']}"
    if workload == "ckpt_resume":
        if not same_row(got["metrics_resumed"], want["metrics_resumed"]):
            return (f"resumed metrics {got['metrics_resumed']} != "
                    f"{want['metrics_resumed']}")
        if got["resume_actions"] != RESUME_ACTIONS:
            return f"resume actions {got['resume_actions']}"
    if workload == "detect_repair" and not same_rows(
            got["corrections"], want["corrections"], ("s", "p", "o")):
        return (f"{len(got['corrections'])} corrections != "
                f"{len(want['corrections'])} expected")
    return None
