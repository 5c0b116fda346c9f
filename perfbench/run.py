#!/usr/bin/env python3
"""The repository's benchmark: one command that builds the engine from
source, generates a workload's inputs from a seed, times the engine in one
JVM, checks every output, and prints one JSON line of metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (one client, closed loop, local[nproc]):
  etl_incremental  etl.Pipeline.run: a 48-snapshot backfill into an empty
                   warehouse (cold), then one new snapshot per warm op.
  query_mix        SparkEntry.queries: a fixed mix over a generated star
                   fixture; a cold pass from an empty artifact dir, then
                   whole warm passes, each in its own seeded order.
  llm_pipelines    CurationPipeline.run + EmbeddingPipeline.run over a
                   generated corpus, one fresh output root per op. Not in
                   BENCHMARK.json: one op takes 20-30 s on a 4-core host,
                   too long for the per-run time the file is sized for; run
                   it by hand.

With --trace 0 the last line carries the end-to-end metrics; with --trace 1
the per-layer metrics. The full record of the run (every op, span and job,
the checks and the host context) goes to .bench_build/artifacts/.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import pyarrow.parquet as pq  # noqa: E402

import checks  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
WORKLOADS = ("etl_incremental", "query_mix", "llm_pipelines")
MB = 1048576.0

# Input sizes. The cold ETL batch is 48 snapshots of 2,500 coins (120k raw
# rows); the star fixture is sf0.01 with 500 documents and vectors; the LLM
# corpus is re-emitted with recorded exact- and near-duplicate shares.
ETL_COINS, ETL_COLD, ETL_WARM_MAX = 2500, 48, 60
STAR_SF = 0.01
CORPUS_DOCS, CORPUS_VECS = 1000, 1000
JVM_HEAP = "3g"
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def source_hash():
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (ENGINE_SRC, os.path.join(HERE, "src")):
        files += sorted(os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
    for p in files:
        h.update(os.path.relpath(p, ROOT).encode())
        h.update(open(p, "rb").read())
    return h.hexdigest()[:16]


def classpath():
    """Compiles engine + harness once per source state; returns the classpath."""
    stamp = os.path.join(BUILD, "classpath-%s.txt" % source_hash())
    if os.path.exists(stamp):
        return open(stamp).read().strip()
    log("building (sbt compile) ...")
    env = dict(os.environ, COURSIER_MODE="offline")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "[error]" in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("build failed")
    os.makedirs(BUILD, exist_ok=True)
    with open(stamp, "w") as f:
        f.write(lines[-1])
    return lines[-1]


def make_inputs(workload, seed, seconds, input_dir):
    """Writes the workload's inputs (and a tiny throwaway set for warm-up)."""
    t0 = time.monotonic()
    info = {}
    if workload == "etl_incremental":
        # warm-up increments: four full-size snapshots of another seed
        gen.write_snapshots(os.path.join(input_dir, "warmup"), seed + 7919, 1000, 4, ETL_COINS)
        gen.write_snapshots(os.path.join(input_dir, "cold"), seed, 0, ETL_COLD, ETL_COINS)
        # warm ops take over a second each, so this many never run out
        n_warm = min(ETL_WARM_MAX, seconds + 4)
        gen.write_snapshots(os.path.join(input_dir, "warm"), seed, ETL_COLD, n_warm, ETL_COINS)
        info = {"coins_per_snapshot": ETL_COINS, "cold_snapshots": ETL_COLD,
                "cold_raw_rows": ETL_COINS * ETL_COLD, "warm_rows_per_op": ETL_COINS}
    elif workload == "query_mix":
        gen.write_star(os.path.join(input_dir, "warmup"), seed + 7919, 0.001, 100, 100)
        gen.write_star(os.path.join(input_dir, "star"), seed, STAR_SF)
        info = {"star_sf": STAR_SF, "lineitem_rows": _rows(input_dir, "star/lineitem")}
    else:
        gen.write_corpus(os.path.join(input_dir, "warmup"), seed + 7919, 200, 200)
        info = gen.write_corpus(os.path.join(input_dir, "corpus"), seed, CORPUS_DOCS, CORPUS_VECS)
    info["generate_s"] = time.monotonic() - t0
    return info


def _rows(input_dir, table):
    return pq.ParquetFile(os.path.join(input_dir, table + ".parquet")).metadata.num_rows


def run_jvm(cp, workload, run_dir, seconds, trace, seed):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    jvm_tmp = os.path.join(run_dir, "jvm_tmp")
    os.makedirs(jvm_tmp)
    opens = [a for p in JDK17_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
    launch_us = time.time_ns() // 1000
    cmd = [java, "-Xmx" + JVM_HEAP, "-Djava.io.tmpdir=" + jvm_tmp, *opens, "-cp", cp,
           "perfbench.Main", workload, run_dir, str(seconds), str(trace), str(seed), str(launch_us)]
    with open(os.path.join(run_dir, "jvm.log"), "w") as out:
        p = subprocess.run(cmd, stdin=subprocess.DEVNULL, stdout=out, stderr=subprocess.STDOUT)
    if p.returncode != 0:
        sys.stderr.write(open(os.path.join(run_dir, "jvm.log")).read()[-4000:])
        raise SystemExit("harness failed with exit code %d" % p.returncode)
    return json.load(open(os.path.join(run_dir, "result.json")))


def dur(o):
    return (o["end_us"] - o["start_us"]) / 1e6


def end_to_end(workload, ops):
    cold = [o for o in ops if o["phase"] == "cold"]
    warm = [o for o in ops if o["phase"] == "warm"]
    # query_mix's first complete results are the whole cold pass; the other
    # workloads repeat their cold op and take the median
    if workload == "query_mix":
        cold_s, cold_cpu_s = sum(map(dur, cold)), sum(o["cpu_s"] for o in cold)
    else:
        cold_s = stats.median([dur(o) for o in cold])
        cold_cpu_s = stats.median([o["cpu_s"] for o in cold])
    return {
        "cold_s": (cold_s, "s"),
        "cold_cpu_s": (cold_cpu_s, "s"),
        "op_p50_s": (stats.median([dur(o) for o in warm]), "s"),
        "live_heap_peak_mb": (max(o["heap_mb"] for o in cold + warm), "MB"),
    }


def per_layer(result):
    """Per-op means over the traced warm ops, grouped by Spark sub-layer, plus
    the cold ops' job/artifact cost and the measured tracing overhead."""
    cores, ops, jobs = result["cores"], result["ops"], result["jobs"]
    by_op = {}
    for j in jobs:
        by_op.setdefault(j["op"], []).append((j["start_us"], j["end_us"]))

    def no_job_s(o):
        return stats.self_time(o["start_us"], o["end_us"], by_op.get(o["id"], [])) / 1e6

    def mean(xs):
        xs = list(xs)
        return sum(xs) / len(xs) if xs else 0.0

    def layer(sel):
        t = [o for o in ops if sel(o) and o["traced"]]
        m = {}
        m["driver.build_s"] = mean(sum(s["end_us"] - s["start_us"] for s in o["subs"]
                                       if s["phase"] == "build") / 1e6 for o in t)
        for k in ("build_jobs", "plan_s", "jobs", "stages", "tasks", "exec_s", "task_cpu_s",
                  "gc_s", "blocks_dropped"):
            m[k] = mean(o[k] for o in t)
        m["no_job_s"] = mean(map(no_job_s, t))
        m["core_busy_ratio"] = sum(o["exec_s"] for o in t) / max(1e-9, sum(map(dur, t)) * cores)
        for k in ("shuffle_write", "shuffle_read", "input", "output", "spill"):
            m[k + "_mb"] = mean(o[k + "_b"] for o in t) / MB
        m["artifact_write_mb"] = mean(o["artifact_bytes"] for o in t) / MB
        m["artifact_reuse_ratio"] = mean(1.0 if o["artifact_bytes"] == 0 else 0.0 for o in t)
        m["cached_mb"] = mean(o["cached_mb"] for o in t)
        return m

    warm = layer(lambda o: o["phase"] == "warm")
    cold = layer(lambda o: o["phase"] == "cold")
    traced = [dur(o) for o in ops if o["phase"] == "warm" and o["traced"]]
    untraced = [dur(o) for o in ops if o["phase"] == "warm" and not o["traced"]]
    out = {
        "driver.build_s": (warm["driver.build_s"], "s"),
        "driver.build_jobs": (warm["build_jobs"], "count"),
        "driver.plan_s": (warm["plan_s"], "s"),
        "driver.no_job_s": (warm["no_job_s"], "s"),
        "scheduler.jobs": (warm["jobs"], "count"),
        "scheduler.stages": (warm["stages"], "count"),
        "scheduler.tasks": (warm["tasks"], "count"),
        "scheduler.unattributed_jobs": (result["unattributed"]["jobs"], "count"),
        "executor.exec_s": (warm["exec_s"], "s"),
        "executor.task_cpu_s": (warm["task_cpu_s"], "s"),
        "executor.gc_s": (warm["gc_s"], "s"),
        "executor.core_busy_ratio": (warm["core_busy_ratio"], "1"),
        "executor.shuffle_write_mb": (warm["shuffle_write_mb"], "MB"),
        "executor.shuffle_read_mb": (warm["shuffle_read_mb"], "MB"),
        "storage.input_mb": (warm["input_mb"], "MB"),
        "storage.output_mb": (warm["output_mb"], "MB"),
        "storage.artifact_reuse_ratio": (warm["artifact_reuse_ratio"], "1"),
        "storage.cached_mb": (warm["cached_mb"], "MB"),
        "storage.blocks_dropped": (warm["blocks_dropped"], "count"),
        "cold.jobs": (cold["jobs"], "count"),
        "cold.no_job_s": (cold["no_job_s"], "s"),
        "cold.artifact_write_mb": (cold["artifact_write_mb"], "MB"),
        "trace_overhead_s": ((stats.median(traced) or 0.0) - (stats.median(untraced) or 0.0), "s"),
    }
    return out, {"warm": warm, "cold": cold}


def modules(result):
    """The artifact's module x sub-layer table (`etl.*`, `ops.*`, `llm.*`)
    over traced warm ops, with each module's own phase split."""
    out = {}
    for m in ("etl", "ops", "llm"):
        t = [o for o in result["ops"] if o["module"] == m and o["traced"] and o["phase"] == "warm"]
        if not t:
            continue
        row = {"ops": len(t), "wall_s": sum(map(dur, t))}
        for k in ("jobs", "build_jobs", "stages", "tasks", "failed_tasks", "exec_s", "task_cpu_s",
                  "gc_s", "plan_s", "blocks_dropped", "shuffle_write_b", "shuffle_read_b",
                  "spill_b", "input_b", "output_b", "artifact_bytes"):
            row[k] = sum(o[k] for o in t)
        for o in t:
            for s in o["subs"]:
                k = s["name"] + "_s"
                row[k] = row.get(k, 0.0) + (s["end_us"] - s["start_us"]) / 1e6
        out[m] = {"%s.%s" % (m, k): v for k, v in row.items()}
    return out


def per_query(result):
    rows = {}
    for o in result["ops"]:
        if o["name"].startswith("q_") and o["traced"]:
            r = rows.setdefault("%s/%s" % (o["phase"], o["name"]), [])
            subs = {s["name"]: (s["end_us"] - s["start_us"]) / 1e6 for s in o["subs"]}
            r.append({"build_s": subs.get("build"), "plan_s": o["plan_s"],
                      "exec_s": subs.get("materialize"), "jobs": o["jobs"],
                      "build_jobs": o["build_jobs"]})
    return rows


def loadavg():
    try:
        return open("/proc/loadavg").read().split()[:3]
    except OSError:
        return None


def git_commit():
    # the ceiling keeps git from reporting an enclosing repository's commit
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(ROOT))
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, env=env, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(ENGINE_SRC):
        raise SystemExit("engine sources not found under %s" % ENGINE_SRC)
    cp = classpath()
    run_dir = os.path.join(BUILD, "runs", "%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    input_dir = os.path.join(run_dir, "input")
    try:
        inputs = make_inputs(a.workload, a.seed, a.seconds, input_dir)
        load_before = loadavg()
        result = run_jvm(cp, a.workload, run_dir, a.seconds, a.trace, a.seed)
        load_after = loadavg()
        ops = result["ops"]
        if a.workload == "etl_incremental":
            failed, check_ctx = checks.etl(result, input_dir)
        elif a.workload == "query_mix":
            failed, check_ctx = checks.query_mix(result, input_dir)
        else:
            failed, check_ctx = checks.llm(result)
        timed = [o for o in ops if o["phase"] in ("cold", "warm")]
        warm = [dur(o) for o in timed if o["phase"] == "warm"]
        tail = stats.tail(warm)
        artifact = {
            "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
            "warm_ops": len(warm), "warm_total_s": sum(warm),
            "warm_ops_per_s": len(warm) / sum(warm),
            "inputs": inputs, "checks": check_ctx,
            "attempted": len(timed), "failed": len(failed),
            "fail_ratio": len(failed) / len(timed),
            "op_tail_s": None if tail is None else {"value": tail[0], "percentile": tail[1],
                                                    "n": tail[2]},
            "artifact_bytes_left": result["artifact_bytes_left"],
            "host": dict(result["host"], nproc=os.cpu_count(), loadavg_before=load_before,
                         loadavg_after=load_after, git_commit=git_commit()),
            "spans": {"ops": ops, "jobs": result["jobs"]},
        }
        if a.trace:
            metrics, layers = per_layer(result)
            artifact.update(layers=layers, modules=modules(result), per_query=per_query(result),
                            unattributed=result["unattributed"])
        else:
            metrics = dict(end_to_end(a.workload, ops), setup_s=(result["setup_s"], "s"))
        artifact["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
        os.makedirs(os.path.join(BUILD, "artifacts"), exist_ok=True)
        path = os.path.join(BUILD, "artifacts", "%s-seed%d-trace%d.json" % (a.workload, a.seed, a.trace))
        with open(path, "w") as f:
            json.dump(artifact, f, indent=1, default=str)
        log("artifact: %s" % os.path.relpath(path, ROOT))
        for k, (v, u) in sorted(metrics.items()):
            log("%-32s %14.6f %s" % (k, v, u))
        if failed:
            log("output checks failed: %s" % json.dumps(check_ctx)[:2000])
        print(json.dumps({"correct": not failed, "attempted": len(timed), "failed": len(failed),
                          "metrics": artifact["metrics"]}))
        return 1 if failed else 0
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
