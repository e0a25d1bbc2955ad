#!/usr/bin/env python3
"""The repository benchmark: its workloads against the compiled engine.

    python3 perfbench/run.py --workload <name|all> --seed <n> --seconds <n>
                             --trace <0|1> [--smoke]

Run it from the root of a checkout. It builds the engine and the harness
from source (first run only, or when a source changed), makes the inputs
from the seed, runs the workload in one JVM at local[4], checks every
output, and prints one JSON line as the last line of standard output:
the end-to-end metrics with --trace 0, the per-layer metrics with
--trace 1. A readable report and the full record go to standard error and
perfbench/.work/records/. `--workload all` runs batch_headline and
stream_dwd_dws in turn; olap_relational and llm_operators, the two mixes
of batch_headline, also run alone. `--smoke` runs at sf0.001 with a short
ladder. See README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

# the workloads a full benchmark pass runs; the two batch mixes of
# batch_headline can also be run on their own
WORKLOADS = ["batch_headline", "stream_dwd_dws"]
MIXES = ["olap_relational", "llm_operators"]
CORES = 4          # local[4], 4 shuffle partitions: this benchmark's host size
HEAP = "3g"
JVM_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 840
SF, SMOKE_SF = 0.1, 0.001

# stream_dwd_dws: the fixed rate ladder as (name, events/s, share of
# --seconds). Low is bound by the trigger interval, mid is the operating
# rung where the latency metrics are taken, high is three times mid.
# The DWD query fires every DWD_TRIGGER_S on the epoch grid and the
# generator starts on that grid, so at --seconds 27 each rung holds
# exactly three DWD batches: the peaks its backlog growth is judged from.
# A rung is sustained while its p90 event latency stays within the limit
# and its backlog grows by less than the tolerance times its rate.
RUNGS = [("low", 2000, 1 / 3), ("mid", 10000, 1 / 3), ("high", 30000, 1 / 3)]
SMOKE_RUNGS = [("low", 200, 1 / 3), ("mid", 1000, 1 / 3), ("high", 3000, 1 / 3)]
DWD_TRIGGER_S = 3.0
# the warm-up spans two DWD batches: the stateful DWS operator drops late
# events by the watermark of the batch before, so the first timed batch
# needs two batches of on-time events behind it
WARM = {"rung": "warm", "eps": 2000, "seconds": 4.0}
LATENCY_LIMIT_S = 20.0
SLOPE_TOLERANCE = 0.25
# a run is load-contaminated when other processes kept more than this
# share of the host's cores busy during the timed region
CONTENTION_LIMIT = 0.25

JAVA_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def die(msg, code=2):
    log(f"perfbench: {msg}")
    sys.exit(code)


# ---------------------------------------------------------------- build

def source_files():
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    files += glob.glob(os.path.join(ROOT, "project", "*.properties"))
    files += glob.glob(os.path.join(ROOT, "project", "*.sbt"))
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def build():
    """Compiles the engine and the harness unless nothing changed since
    the last build; returns the JVM classpath."""
    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft",
                                       "SparkEntry.scala")) \
            or not os.path.exists(os.path.join(ROOT, "build.sbt")):
        die(f"no engine sources under {ROOT}: run from a full checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java are needed to build the engine")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    stamp_file = os.path.join(WORK, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(WORK, exist_ok=True)
    log("perfbench: building engine + harness (sbt) ...")
    t = time.time()
    with open(os.path.join(WORK, "build.log"), "w") as out:
        tmp = os.path.join(WORK, "tmp")
        os.makedirs(tmp, exist_ok=True)
        code = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true",
                          f"-Djava.io.tmpdir={tmp}", "-J-XX:-UsePerfData",
                          "writeClasspath"],
                         HERE, out, BUILD_TIMEOUT_S,
                         dict(os.environ, JAVA_TOOL_OPTIONS="-XX:-UsePerfData"))
    if code != 0:
        tail = open(os.path.join(WORK, "build.log")).read()[-3000:]
        die(f"build failed ({code}):\n{tail}", 3)
    log(f"perfbench: built in {time.time() - t:.0f} s")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return open(cp_file).read().strip()


def run_child(cmd, cwd, out, timeout, env=None):
    """Runs a child in its own process group; on timeout the whole group
    is killed and waited for."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                         env=env, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


# --------------------------------------------------------------- inputs

def fixtures(seed, sf):
    d = os.path.join(WORK, "fixtures", f"sf{sf}-seed{seed}")
    if os.path.exists(os.path.join(d, "dim_snapshot.parquet")):
        return d
    tmp = d + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), "fixtures",
                    tmp, str(seed), str(sf)], check=True)
    shutil.rmtree(d, ignore_errors=True)
    os.replace(tmp, d)
    return d


def ladder(seconds, smoke):
    rungs = SMOKE_RUNGS if smoke else RUNGS
    return [{"rung": n, "eps": eps, "seconds": seconds * share}
            for n, eps, share in rungs]


# ------------------------------------------------------------------ run

def run_jvm(cp, workload, seed, seconds, trace, smoke, fx, work):
    sf = SMOKE_SF if smoke else SF
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"))
    cmd = ["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", workload,
            "--fixtures", fx, "--work", work, "--seconds", str(seconds),
            "--seed", str(seed), "--trace", str(trace), "--cores", str(CORES),
            "--sf", str(sf), "--gen", os.path.join(HERE, "gen.py"),
            "--warm", json.dumps([WARM]),
            "--trigger-ms", str(int(DWD_TRIGGER_S * 1000)),
            "--rungs", json.dumps(ladder(seconds, smoke))]
    with open(os.path.join(work, "jvm.log"), "w") as out:
        code = run_child(cmd, ROOT, out, JVM_TIMEOUT_S, env)
    rec_path = os.path.join(work, "record.json")
    if code != 0 or not os.path.exists(rec_path):
        tail = open(os.path.join(work, "jvm.log"), errors="replace").read()[-4000:]
        die(f"{workload}: engine run failed ({code}):\n{tail}", 4)
    rec = json.load(open(rec_path))
    rec["_path"] = rec_path
    return rec


def validity(rec):
    """Load during the timed region from /proc: other processes' share of
    the host's cores, beside this JVM's own."""
    b, a = rec["host_before"], rec["host_after"]
    ticks = os.sysconf("SC_CLK_TCK")
    wall = max(a["time"] - b["time"], 1e-9)
    host = (a["host_busy_ticks"] - b["host_busy_ticks"]) / ticks
    own = (a["self_ticks"] - b["self_ticks"]) / ticks
    ncpu = os.cpu_count() or 1
    other = max(0.0, host - own) / (wall * ncpu)
    return {"valid": other <= CONTENTION_LIMIT, "other_busy_frac": other,
            "own_busy_frac": own / (wall * ncpu),
            "load1_before": b["load1"], "load1_after": a["load1"],
            "load5_before": b["load5"], "load5_after": a["load5"],
            "nproc": ncpu, "heap_max_mb": rec["heap_max_mb"],
            "confs": rec.get("confs", {})}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=WORKLOADS + MIXES + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    ap.add_argument("--smoke", action="store_true",
                    help="sf0.001 and a short ladder")
    a = ap.parse_args(argv)
    cp = build()
    import metrics  # noqa: E402 - needs duckdb, only after the build check
    names = WORKLOADS if a.workload == "all" else [a.workload]
    results = []
    for w in names:
        results.append((w, one(cp, w, a, metrics)))
    if len(results) == 1:
        out = results[0][1]
    else:
        out = {"correct": all(r["correct"] for _, r in results),
               "attempted": sum(r["attempted"] for _, r in results),
               "failed": sum(r["failed"] for _, r in results),
               "metrics": {f"{w}.{k}": v for w, r in results
                           for k, v in r["metrics"].items()}}
    print(json.dumps(out))


def one(cp, workload, a, metrics):
    sf = SMOKE_SF if a.smoke else SF
    fx = fixtures(a.seed, sf)
    work = os.path.join(WORK, "runs", f"{workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    t0 = time.time()
    rec = run_jvm(cp, workload, a.seed, a.seconds, a.trace, a.smoke, fx, work)
    t1 = time.time()
    if workload == "stream_dwd_dws":
        res = metrics.stream(rec, fx, LATENCY_LIMIT_S, SLOPE_TOLERANCE,
                             a.trace == 1)
    else:
        res = metrics.batch(rec, fx, os.path.join(WORK, "oracle"), CORES,
                            a.trace == 1)
    res["run"] = validity(rec)
    res["per_layer"]["run.other_busy_frac"] = (res["run"]["other_busy_frac"],
                                               "frac")
    res["run"]["engine_wall_s"] = t1 - t0
    res["run"]["check_wall_s"] = time.time() - t1
    res["run"].update({"workload": workload, "seed": a.seed,
                       "seconds": a.seconds, "trace": a.trace,
                       "smoke": a.smoke, "sf": sf})
    metrics.report(workload, res, log)
    rdir = os.path.join(WORK, "records")
    os.makedirs(rdir, exist_ok=True)
    with open(os.path.join(rdir, f"{workload}-seed{a.seed}-trace{a.trace}"
                           f"{'-smoke' if a.smoke else ''}.json"), "w") as f:
        json.dump(res, f, indent=1, default=str)
    shutil.rmtree(work, ignore_errors=True)
    chosen = res["per_layer"] if a.trace else res["end_to_end"]
    # a failed check that is not an operation (the latency attribution,
    # a traced run's self-time check) also makes the run incorrect
    correct = res["failed"] == 0 and all(v == "PASS"
                                         for v in res["verdicts"].values())
    return {"correct": correct, "attempted": res["attempted"],
            "failed": res["failed"],
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in chosen.items()}}


if __name__ == "__main__":
    main()
