#!/usr/bin/env python3
"""kgspark benchmark: one workload per invocation, closed loop, oracle-checked.

    python3 perfbench/run.py --workload detect_repair --seed 1 --seconds 1 --trace 0

One driver process runs one pass at a time on ``local[<nproc>]``. A pass
is generated input -> complete result, each on a fresh
``spark.newSession()`` so kgspark's per-session memos cannot turn a
repeated pass into a cache hit. Every pass is compared with DuckDB on
the same input (``oracle.py``, outside the timed region).

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
ones (``layertrace.py``). The last line of stdout is one JSON object; run
context (git rev, nproc, loadavg per pass, versions) goes to stderr.
METHOD.md describes the workloads, the metrics and what moves what.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# files = generated documents (one repo file each); see METHOD.md
WORKLOADS = {
    "build_sdv": {"files": 8000},
    "detect_repair": {"files": 1000},
    "ckpt_resume": {"files": 4000},
}
SETUP_REPEATS = 3
MB = 1024.0 * 1024.0


def log(**kv):
    print("perfbench " + json.dumps(kv, default=str), file=sys.stderr, flush=True)


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


# ------------------------------------------------------------- passes


def _rounded(row: dict) -> dict:
    return {k: round(v, 6) if isinstance(v, float) else v for k, v in row.items()}


def pass_build_sdv(spark, sf_dir, work):
    from kgspark import pipeline
    from oracle import P_ERROR

    m = pipeline.flagship_metrics(spark, sf_dir, P_ERROR).collect()[0]
    return {"metrics": m.asDict()}


def pass_detect_repair(spark, sf_dir, work):
    from kgspark import correct, patybred, pipeline, rank
    from oracle import P_ERROR, REF_GAIN, REF_MIN_SCORE

    g = pipeline.build_graph(spark, sf_dir, variant="rich")
    b = patybred.pb_bundle(spark, sf_dir, P_ERROR, clf="lgr", kind=3,
                           variant="rich", replace=True)
    m = rank.evaluate(b.ranked).collect()[0]
    corr = correct.correct_errors_patybred(
        b.ranked, b.facts, g.types, g.entities, b.idx, b.models,
        min_score=REF_MIN_SCORE, min_score_gain=REF_GAIN,
        require_multitype=True, n_entities=g.n_entities).collect()
    return {"metrics": _rounded(m.asDict()),
            "corrections": [r.asDict() for r in corr]}


def pass_ckpt_resume(spark, sf_dir, work):
    from kgspark import checkpoint
    from oracle import P_ERROR, P_RESUME

    shutil.rmtree(work, ignore_errors=True)
    first = checkpoint.run_pipeline(spark, sf_dir, work, p_error=P_ERROR)
    t0 = time.perf_counter()
    second = checkpoint.run_pipeline(spark, sf_dir, work, p_error=P_RESUME)
    return {"metrics": first["metrics"],
            "metrics_resumed": second["metrics"],
            "resume_actions": [(e["stage"], e["action"])
                               for e in second["events"]],
            "resume_s": time.perf_counter() - t0}


PASSES = {"build_sdv": pass_build_sdv, "detect_repair": pass_detect_repair,
          "ckpt_resume": pass_ckpt_resume}


# ----------------------------------------------------------- memory


class RssSampler(threading.Thread):
    """High-water RSS of a process tree (the Spark JVM and the Python
    workers it forks), sampled from /proc."""

    def __init__(self, pid: int, every: float = 0.1):
        super().__init__(daemon=True)
        self.pid, self.every = pid, every
        self.peak_kb = 0
        self._halt = threading.Event()

    def _tree_rss_kb(self) -> int:
        children: dict[int, list[int]] = {}
        rss: dict[int, int] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            children.setdefault(int(fields[1]), []).append(int(name))
            rss[int(name)] = int(fields[21]) * os.sysconf("SC_PAGE_SIZE") // 1024
        total, todo = 0, [self.pid]
        while todo:
            p = todo.pop()
            total += rss.get(p, 0)
            todo.extend(children.get(p, []))
        return total

    def run(self):
        while not self._halt.is_set():
            self.peak_kb = max(self.peak_kb, self._tree_rss_kb())
            self._halt.wait(self.every)

    def stop(self) -> float:
        self._halt.set()
        self.join()
        return self.peak_kb / 1024.0


# ----------------------------------------------------------- harness


def jobs_submitted(sc) -> int:
    return sc._jsc.sc().dagScheduler().numTotalJobs()


def storage_mb(sc) -> float:
    infos = sc._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / MB


def dir_mb(path: str) -> float:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total / MB


def run_context() -> dict:
    import pyspark

    try:
        rev = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                             capture_output=True, timeout=10).stdout.strip()
    except OSError:
        rev = ""
    return {"git_rev": rev or "unknown", "nproc": len(os.sched_getaffinity(0)),
            "python": sys.version.split()[0], "spark": pyspark.__version__,
            "loadavg": loadavg()}


class Bench:
    def __init__(self, args, tmp):
        self.args, self.tmp = args, tmp
        self.workload = args.workload
        self.sf_dir = os.path.join(tmp, "input")
        self.work = os.path.join(tmp, "ckpt")
        self.event_dir = os.path.join(tmp, "eventlog")
        self.passes: list[dict] = []
        self.failed = 0
        self._sessions = []  # keeps every id(session) distinct

    def start(self):
        """Session start + input generation: the set-up a user pays."""
        from gen import write_documents

        from kgspark.session import get_spark

        conf = {
            "spark.local.dir": os.path.join(self.tmp, "local"),
            "spark.sql.warehouse.dir": os.path.join(self.tmp, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
            # A capped heap keeps peak RSS a measure of use, not of how far
            # G1 happened to grow an 8 GB heap (±20% run to run).
            "spark.driver.memory": "2g",
        }
        if self.args.trace:
            os.makedirs(self.event_dir)
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.dir": self.event_dir,
                         "spark.eventLog.compress": "false",
                         "spark.eventLog.rolling.enabled": "false"})
        nproc = len(os.sched_getaffinity(0))
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", master=f"local[{nproc}]", extra=conf)
        session_s = time.perf_counter() - t0
        self.sc = self.spark.sparkContext
        self.sc.setLogLevel("ERROR")
        gen_s = []
        for _ in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            self.input = write_documents(self.sf_dir, self.args.seed, self.files)
            gen_s.append(time.perf_counter() - t0)
        self.setup_s = session_s + statistics.median(gen_s)
        log(setup_s=self.setup_s, session_s=session_s, gen_s=gen_s,
            input=self.input)

    @property
    def files(self) -> int:
        return self.args.files or WORKLOADS[self.workload]["files"]

    def one_pass(self, tag: str, tracer=None) -> dict:
        from oracle import check

        session = self.spark.newSession()
        self._sessions.append(session)
        self.sc.setLocalProperty("perfbench.pass", tag)
        jobs0, load0 = jobs_submitted(self.sc), loadavg()
        stored0 = storage_mb(self.sc)
        clock_offset = time.time() - time.perf_counter()
        if tracer:
            tracer.install()
        err = None
        t0 = time.perf_counter()
        try:
            out = PASSES[self.workload](session, self.sf_dir, self.work)
        except Exception as e:  # a raising pass counts as failed
            out, err = None, f"{type(e).__name__}: {e}"
        wall = time.perf_counter() - t0
        if tracer:
            tracer.uninstall()
        self.sc.setLocalProperty("perfbench.pass", None)
        jobs = jobs_submitted(self.sc) - jobs0
        if err is None:
            err = check(self.workload, out, self.expected)
        if err is None and jobs == 0:
            err = "no Spark job ran: the pass was served from a memo"
        rec = {"tag": tag, "wall_s": wall, "jobs": jobs, "loadavg": [load0, loadavg()],
               "retained_mb": storage_mb(self.sc) - stored0,
               "resume_s": (out or {}).get("resume_s"),
               "clock_offset": clock_offset, "error": err}
        if self.workload == "ckpt_resume" and out:
            rec["checkpoint_mb"] = dir_mb(self.work)
        self.passes.append(rec)
        self.failed += err is not None
        log(**rec)
        return rec

    def run(self) -> dict:
        """The measured pass is the only one in the fresh JVM: the one-shot
        batch job a spark-submit user pays for. A traced run adds a warm
        traced pass, which the per-layer metrics come from, and a warm
        untraced pass to compare it with."""
        from oracle import expected

        self.start()
        self.expected = expected(ROOT, self.workload, self.sf_dir)
        rss = RssSampler(self.sc._gateway.proc.pid)
        rss.start()
        first = self.one_pass("first")
        peak_mb = rss.stop()
        if self.args.trace:
            metrics = self.traced_metrics()
        else:
            metrics = {
                "setup_s": (self.setup_s, "s"),
                "e2e_s": (first["wall_s"], "s"),
                "triples_per_s": (self.expected["n_triples"] / first["wall_s"], "1/s"),
                "peak_rss_mb": (peak_mb, "MB"),
            }
        return {
            "correct": self.failed == 0,
            "attempted": len(self.passes),
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }

    def close(self):
        """Stop Spark and the JVM it launched, and wait for it to exit (the
        gateway JVM quits when its stdin closes; its Python workers quit
        with it)."""
        if not hasattr(self, "spark"):
            return
        gateway = self.sc._gateway
        self.spark.stop()
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)

    def traced_metrics(self) -> dict:
        from layertrace import Tracer, fold_event_log, layer_metrics

        tracer = Tracer(self.sc)
        traced = self.one_pass("traced", tracer)
        plain = self.one_pass("warm_plain")
        self.spark.stop()  # flushes and closes the event log
        folded = fold_event_log(self.event_dir, "traced")
        layers = layer_metrics(tracer, folded, traced["clock_offset"])
        units = {"calls": "count", "jobs": "count", "shuffle_write_mb": "MB",
                 "spill_mb": "MB"}
        m = {k: (v, units.get(k.rsplit(".", 1)[1], "s")) for k, v in layers.items()}
        self_total = sum(v for k, v in layers.items()
                         if k.endswith(".wall_s") and k.count(".") == 1)
        m.update({
            "localCheckpoint.calls": (tracer.checkpoint_calls, "count"),
            "localCheckpoint.retained_mb": (traced["retained_mb"], "MB"),
            "checkpoint.stage.write_mb": (folded["output_mb"], "MB"),
            "checkpoint.resume_s": (traced["resume_s"] or 0.0, "s"),
            "checkpoint.dir_mb": (traced.get("checkpoint_mb", 0.0), "MB"),
            "unattributed_s": (traced["wall_s"] - self_total, "s"),
            "unattributed.jobs": (int(folded["groups"].get(None, {}).get("jobs", 0)),
                                  "count"),
            "trace_overhead_s": (traced["wall_s"] - plain["wall_s"], "s"),
            "warm_pass_s": (plain["wall_s"], "s"),
        })
        return m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="measured time; a run always measures one whole "
                         "pass (see METHOD.md), which outlasts this")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--files", type=int, default=0,
                    help="override the workload's file count (smoke test)")
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "kgspark", "__init__.py")):
        print(f"perfbench: no kgspark package under {ROOT}", file=sys.stderr)
        return 2
    # Python workers forked by Spark import kgspark too, from any cwd.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path[:0] = [ROOT, HERE]
    tmp = os.path.join(ROOT, ".perfbench_tmp", f"{args.workload}-{os.getpid()}")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    log(workload=args.workload, seed=args.seed, trace=args.trace, **run_context())
    bench = Bench(args, tmp)
    try:
        result = bench.run()
    finally:
        bench.close()
        shutil.rmtree(tmp, ignore_errors=True)
    log(loadavg_end=loadavg())
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
