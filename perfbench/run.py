#!/usr/bin/env python3
"""Convoy pipeline benchmark: one invocation = one workload, one seed.

    python3 perfbench/run.py --workload forest|viral --seed N --seconds S --trace 0|1

Run it from the repository root. The first invocation in a checkout builds
the engine and the harness from source with sbt (into perfbench/target).
Each invocation then starts one fresh JVM on local[N], N = min(nproc, 4):

  * setup_s is timed from process start until the SparkSession has run a
    constant trivial action.
  * The JVM then generates the workload's page corpus from the seed and
    times ConvoyPipeline.run + write: the first run is cold_s. Further
    (warm) runs start only while they are expected to end within --seconds
    of the cold run's start. Every run's 11 outputs are checked (see
    Main.scala and Check.scala).
  * With --trace 1 it makes at least one warm and one traced stage-by-stage
    run after the cold one, and reports the per-layer metrics.

All scratch output lives under .bench_tmp/ in the checkout and is deleted
before exit. Standard output ends with a summary per metric, one JSON
record line (env, input properties, samples) and the result line, whose
metrics are the end_to_end (--trace 0) or per_layer (--trace 1) names of
BENCHMARK.json.
"""

import argparse
import glob
import hashlib
import json
import os
import selectors
import shutil
import statistics
import subprocess
import sys
import time

BENCH = "perfbench"
MAIN = "perfbench.Main"
SCALE = 8000  # tweets per corpus (originals + late replies)
DEADLINE_S = 170  # an invocation must end within 180 s once built
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    files = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True)
                   + glob.glob(f"{BENCH}/src/main/scala/**/*.scala", recursive=True)
                   + [f"{BENCH}/build.sbt", f"{BENCH}/project/build.properties"])
    return [f for f in files if os.path.isfile(f)]


def build_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SPARK_HOME" not in env:
        submit = shutil.which("spark-submit")
        if not submit:
            fail("no SPARK_HOME and no spark-submit on PATH")
        env["SPARK_HOME"] = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return env


def classpath():
    """Build with sbt when the sources are newer than the last build."""
    stamp = f"{BENCH}/target/bench-classpath.txt"
    if os.path.isfile(stamp) and all(
            os.path.getmtime(f) <= os.path.getmtime(stamp) for f in sources()):
        with open(stamp) as f:
            return f.read().strip()
    # keep sbt's own scratch files inside the checkout too
    tmp = os.path.abspath(".bench_tmp/build")
    os.makedirs(tmp, exist_ok=True)
    try:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}", "-J-XX:-UsePerfData",
             "compile", "export Runtime/fullClasspath"],
            cwd=BENCH, env=build_env(), stdout=subprocess.PIPE, stderr=sys.stderr,
            stdin=subprocess.DEVNULL, text=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    sys.stderr.write(proc.stdout)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines or "[error]" in proc.stdout:
        fail("build failed")
    cp = lines[-1].strip()
    with open(stamp, "w") as f:
        f.write(cp + "\n")
    return cp


def mem_total_kb():
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    return 0


def heap(mem_kb):
    g = mem_kb // 2097152  # same formula as the Tier-1 test heap
    return f"{min(max(g, 2), 8)}g"


def git_state():
    if not os.path.isdir(".git"):
        return None, None
    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True,
                             text=True, check=True).stdout.strip()
        dirty = subprocess.run(["git", "status", "--porcelain"], capture_output=True,
                               text=True, check=True).stdout.strip() != ""
        return sha, dirty
    except (OSError, subprocess.CalledProcessError):
        return None, None


def source_hash():
    h = hashlib.sha256()
    for f in sources():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def run_jvm(cmd, log, deadline):
    """Run the benchmark JVM. Returns (seconds from spawn until it printed
    READY, its RESULT object); kills it at the deadline."""
    t0 = time.perf_counter()
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log,
                            stdin=subprocess.DEVNULL, text=True)
    setup_s = result = None
    sel = selectors.DefaultSelector()
    sel.register(proc.stdout, selectors.EVENT_READ)
    try:
        while True:
            left = deadline - time.time()
            if left <= 0:
                raise TimeoutError("benchmark JVM ran past the deadline")
            if not sel.select(timeout=min(left, 1.0)):
                continue
            line = proc.stdout.readline()
            if not line:
                break
            if line.strip() == "READY" and setup_s is None:
                setup_s = time.perf_counter() - t0
            elif line.startswith("RESULT "):
                result = json.loads(line[len("RESULT "):])
        proc.wait(timeout=max(1, deadline - time.time()))
    finally:
        sel.close()
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if proc.returncode != 0 or setup_s is None or result is None:
        raise RuntimeError(f"benchmark JVM exited with {proc.returncode} and no result")
    return setup_s, result


def median(xs):
    return statistics.median(xs) if xs else None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["forest", "viral"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not (os.path.isdir("src/main/scala/graft") and os.path.isfile(f"{BENCH}/build.sbt")):
        fail("run from the repository root: the engine sources are missing")
    cp = classpath()
    start = time.time()

    cores = min(len(os.sched_getaffinity(0)), 4)
    mem_kb = mem_total_kb()
    xmx = heap(mem_kb)
    tmp_root = os.path.abspath(".bench_tmp")
    tmp = os.path.join(tmp_root, f"run-{os.getpid()}")
    os.makedirs(tmp)
    try:
        java = [os.path.join(os.environ["JAVA_HOME"], "bin", "java")
                if "JAVA_HOME" in os.environ else "java"]
        cmd = (java + [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + [f"-Xmx{xmx}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
                  "-cp", cp, MAIN, "--cores", str(cores), "--tmp", tmp])
        with open(os.path.join(tmp, "jvm.log"), "w") as log:
            try:
                setup_s, r = run_jvm(
                    cmd + ["--workload", args.workload, "--seed", str(args.seed),
                           "--seconds", str(args.seconds), "--trace", str(args.trace),
                           "--scale", str(SCALE)], log, start + DEADLINE_S)
            except Exception:
                log.flush()
                with open(os.path.join(tmp, "jvm.log")) as f:
                    sys.stderr.write(f.read()[-4000:])
                raise
    except (RuntimeError, TimeoutError) as e:
        fail(str(e))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(tmp_root)
        except OSError:
            pass

    inp = r["input"]
    cold_s = r["cold_s"]
    warm_s = median(r["warm_s"])
    traced_s = median(r["layers"].get("traced_total_s", []))
    sha, dirty = git_state()
    env = {
        "nproc": os.cpu_count(), "master": f"local[{cores}]",
        "shuffle_partitions": cores, "xmx": xmx, "mem_total_kb": mem_kb,
        "jdk": r["jdk"], "spark": r["spark"], "git_sha": sha, "git_dirty": dirty,
        "source_sha256": source_hash(), "workload": args.workload,
        "seed": args.seed, "scale": SCALE,
    }
    timings = {"setup_s": [setup_s], "cold_s": [cold_s] if cold_s else [],
               "warm_s": r["warm_s"],
               "traced_total_s": r["layers"].get("traced_total_s", []),
               "check_s": r["check_s"], "invocation_s": [time.time() - start]}
    values = {
        "setup_s": setup_s,
        "cold_s": cold_s,
        "tweets_per_s": inp["tweet_records"] / cold_s if cold_s else None,
        "out_bytes_per_in_byte": r["out_bytes"] / inp["jsonl_bytes"],
        "peak_heap_mb": r["peak_heap_mb"],
        "failed_frac": r["failed"] / r["attempted"],
        "pipeline.construct_s": median(r["construct_s"]),
        "pipeline.warm_s": warm_s,
        "trace_overhead_s": traced_s - warm_s if traced_s and warm_s else None,
        **{k: median(xs) for k, xs in r["layers"].items()},
        **r["fixed"],
    }

    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    for name, xs in timings.items():
        shown = f"median {median(xs):.4f} s over {len(xs)} samples" if xs else "no samples"
        print(f"{name}: {shown} [{', '.join(f'{x:.4f}' for x in xs)}]")
    for m in spec["end_to_end"] + (spec["per_layer"] if args.trace else []):
        v = values.get(m["name"])
        print(f"{m['name']}: {v if v is None else round(v, 6)} {m['unit']}")
    if not args.trace:
        print(f"failed_frac: {values['failed_frac']} ratio")
    for p in r["problems"]:
        print(f"problem: {p}")
    record = {"env": env, "input": inp, "timings": timings,
              "spans": "marginal: a stage span re-runs the upstream scans its outputs need",
              "correct": r["correct"], "attempted": r["attempted"], "failed": r["failed"]}
    print("RECORD " + json.dumps(record, sort_keys=True))

    chosen = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {m["name"]: {"value": values.get(m["name"]), "unit": m["unit"]} for m in chosen}
    correct = r["correct"] and all(m["value"] is not None for m in metrics.values())
    print(json.dumps({"correct": correct, "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
