#!/usr/bin/env python3
"""Benchmark of the gmall engine: one workload per run, in one JVM with Spark
local[k] (k = min(4, nproc)), one client thread, closed loop.

    python3 perfbench/run.py --workload stream_jobs --seed 1 --seconds 20 --trace 0

Builds the engine from source (perfbench/build.py), generates the workload's
inputs from the seed, runs the harness (perfbench/src), checks every answer
against DuckDB (perfbench/check.py) and prints one JSON line last:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1. Raw
samples, host evidence, check details and the per-layer table go to
perfbench/out/<run|trace>_<workload>.json.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

T_START = time.monotonic()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402

WORKLOADS = ("stream_jobs", "dashboard_serve", "corpus_refresh")
STREAM_JOBS = ("dau", "alert", "gmv", "sale_detail", "user_info")
SERVE_OPS = ("realtime_total", "realtime_hours", "sale_detail", "ref_queries")
CORPUS_QUERIES = ("q24_ngram_jaccard", "q25_minhash_lsh", "q23_dedup_exact",
                  "q205_bm25_search", "q52_tfidf", "q27_cosine_topk")
CORPUS_OPS = ("ingest",) + CORPUS_QUERIES
SPARK_FIGURES = (("jobs", "count"), ("tasks", "count"), ("outside_jobs_s", "s"),
                 ("executor_run_s", "s"), ("scan_mb", "MB"), ("shuffle_mb", "MB"))
END_TO_END = (("setup_s", "s"), ("rate_per_s", "1/s"), ("latency_p50_s", "s"),
              ("latency_p90_s", "s"), ("retained_heap_mb", "MB"))
BUDGET_S = 170  # every run ends well inside 180 s


def per_layer():
    """(name, unit) of every per-layer metric, in BENCHMARK.json's order."""
    m = [("sources.parse_s", "s")]
    for j in STREAM_JOBS:
        m += [(f"streaming.{j}.{k}", u) for k, u in (
            ("batch_s", "s"), ("add_batch_s", "s"), ("planning_s", "s"),
            ("commit_s", "s"), ("state_rows", "count"), ("state_mb", "MB"))]
    for j in STREAM_JOBS + ("corpus",):
        m += [(f"sinks.{j}.write_s", "s"), (f"sinks.{j}.rows_written_per_row", "ratio")]
    m += [("tables.resolve_s", "s")]
    m += [(f"serve.{op}.latency_s", "s") for op in SERVE_OPS]
    for op in SERVE_OPS + CORPUS_OPS:
        m += [(f"spark.{op}.{k}", u) for k, u in SPARK_FIGURES]
    m += [(f"corpus.{q}.latency_s", "s") for q in CORPUS_QUERIES]
    m += [("training.ingest_s", "s"), ("memo.cached_entries", "count"),
          ("memo.cached_mb", "MB"), ("jvm.setup.jit_s", "s"), ("jvm.setup.gc_s", "s"),
          ("jvm.timed.jit_s", "s"), ("jvm.timed.gc_s", "s")]
    return m


# ------------------------------------------------------------------ inputs
def make_inputs(workload, work, seed, seconds):
    import gen
    if workload == "stream_jobs":
        # rounds take well over 0.25 s each; the spare rounds are never run
        gen.gen_stream(work, seed, rounds=2 + int(seconds / 0.25))
    elif workload == "dashboard_serve":
        os.makedirs(f"{work}/tables")
        gen.gen_dashboard(f"{work}/tables", seed)
        with open(f"{work}/requests.tsv", "w") as fh:
            for r in gen.dashboard_requests(seed):
                fh.write("\t".join([r["op"], r.get("day", ""), r.get("prev", ""),
                                    r.get("keyword", ""), str(r.get("page", ""))]) + "\n")
    else:
        gen.gen_corpus(work, seed, rounds=2 + int(seconds / 0.5))
        for t in ("documents", "embeddings"):
            os.makedirs(f"{work}/corpus/{t}.parquet")
            shutil.copy(f"{work}/base/{t}.parquet", f"{work}/corpus/{t}.parquet/part-base.parquet")


JDK17_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def run_jvm(classes, cp, args, work):
    os.makedirs(f"{work}/tmp")
    cmd = ["java", *JDK17_OPENS, "-Xmx3g", f"-Djava.io.tmpdir={work}/tmp",
           f"-Dspark.local.dir={work}/tmp", "-cp", f"{classes}{os.pathsep}{cp}",
           "graftbench.Main", *args]
    left = BUDGET_S - (time.monotonic() - T_START)
    with open(f"{work}/jvm.log", "w") as log:
        try:
            r = subprocess.run(cmd, stdout=log, stderr=log, timeout=max(left, 1))
        except subprocess.TimeoutExpired:
            return "timed out"
    return None if r.returncode == 0 else f"exited {r.returncode}"


# ----------------------------------------------------------------- metrics
def quantile(xs, q):
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[int(q * 100) - 1]


def end_to_end(res):
    lat = [s["s"] for s in res["samples"]]
    return {
        "setup_s": res["setup_s"],
        "rate_per_s": res["units"] / res["busy_s"],
        "latency_p50_s": statistics.median(lat),
        "latency_p90_s": quantile(lat, 0.9),
        "retained_heap_mb": res["retained_heap_mb"],
    }


def layer_table(res):
    raw = res["layers"]
    table = {}
    for name, _ in per_layer():
        xs = raw.get(name)
        if xs:
            # accumulating state is read at the end; everything else is a median
            last = name.endswith(("state_rows", "state_mb")) or name.startswith("memo.")
            table[name] = xs[-1] if last else statistics.median(xs)
    by_op = {}
    for s in res["samples"]:
        by_op.setdefault(s["op"], []).append(s["s"])
    for op in SERVE_OPS:
        if op in by_op:
            table[f"serve.{op}.latency_s"] = statistics.median(by_op[op])
    for q in CORPUS_QUERIES:
        if q in by_op:
            table[f"corpus.{q}.latency_s"] = statistics.median(by_op[q])
    if "ingest" in by_op:
        table["training.ingest_s"] = statistics.median(by_op["ingest"])
    return table


# -------------------------------------------------------------- correctness
def verify(workload, work, res):
    """(correct, failed ops, check details)."""
    import check
    samples = res["samples"]
    if not check.self_test():
        return False, len(samples), {"self_test": [False, "planted wrong answers passed"]}
    facts = res["facts"]
    if workload == "stream_jobs":
        checks = check.check_stream(work, facts)
        ok = all(v[0] for v in checks.values())
        failed = sum(1 for s in samples if s["failed"]) if ok else len(samples)
        return ok, failed, checks
    if workload == "dashboard_serve":
        checks = check.check_dashboard(work)
        # every served digest of an unchecked query equals its first one,
        # which differs from the checked answer: all its requests failed
        for k in facts["unchecked"]:
            checks[f"{k} served"] = (False, "the served answer differs from the checked one")
        for k in facts["unstable"]:
            checks[f"{k} repeated"] = (False, "a later answer differs from the first one")
        failed = sum(1 for s in samples if s["failed"] or not checks.get(s["key"], (False,))[0]
                     or s["key"] in facts["unchecked"])
        return all(v[0] for v in checks.values()), failed, checks
    checks = check.check_corpus(work, res["rounds"])
    checks[("all", "ingest")] = check.check_chunks(work, res["rounds"])
    failed = 0
    for s in samples:
        key = ("all", "ingest") if s["op"] == "ingest" else (s["round"], s["op"])
        failed += s["failed"] or not checks.get(key, (False,))[0]
    # the set-up round answers from fresh state: every query must pass there
    correct = all(checks[(0, q)][0] for q in CORPUS_QUERIES)
    return correct, failed, {f"{k[0]}:{k[1]}": v for k, v in checks.items()}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=min(4, os.cpu_count() or 1))
    a = ap.parse_args()

    try:
        classes, cp = build.build()
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
    work = os.path.join(build.BUILD, "work", f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    t_gen = time.monotonic()
    make_inputs(a.workload, work, a.seed, a.seconds)
    t_jvm = time.monotonic()
    err = run_jvm(classes, cp, ["--workload", a.workload, "--dir", work, "--seed", str(a.seed),
                                "--seconds", str(a.seconds), "--trace", str(a.trace),
                                "--cores", str(a.cores)], work)
    if err:
        with open(f"{work}/jvm.log") as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        print(f"[perfbench] harness {err}", file=sys.stderr)
        sys.exit(1)
    with open(f"{work}/result.json") as fh:
        res = json.load(fh)
    t_check = time.monotonic()
    correct, failed, checks = verify(a.workload, work, res)
    t_end = time.monotonic()
    e2e = end_to_end(res)
    units = dict(END_TO_END)
    if a.trace:
        table = layer_table(res)
        metrics = {n: {"value": table.get(n, 0.0), "unit": u} for n, u in per_layer()}
    else:
        metrics = {n: {"value": e2e[n], "unit": units[n]} for n, _ in END_TO_END}

    os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
    detail = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "cores": a.cores, "correct": correct, "attempted": len(res["samples"]),
        "failed": failed, "end_to_end": e2e, "rounds": res["rounds"], "host": res["host"],
        "facts": res["facts"], "checks": {str(k): v for k, v in checks.items()},
        "samples": res["samples"],
    }
    if a.trace:
        detail["per_layer"] = layer_table(res)
        detail["layer_observations"] = res["layers"]
    with open(os.path.join(HERE, "out", f"{'trace' if a.trace else 'run'}_{a.workload}.json"), "w") as fh:
        json.dump(detail, fh, indent=1)
    h = res["host"]
    print(f"[perfbench] {a.workload} seed={a.seed} rounds={res['rounds']} "
          f"load1={h['load1_start']}->{h['load1_end']} other_cpu_share={h['other_cpu_share']:.4f} "
          f"wall: build {t_gen - T_START:.1f} s, inputs {t_jvm - t_gen:.1f} s, "
          f"jvm {t_check - t_jvm:.1f} s, checks {t_end - t_check:.1f} s",
          file=sys.stderr)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": correct, "attempted": len(res["samples"]),
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
