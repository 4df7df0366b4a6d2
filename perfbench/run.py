#!/usr/bin/env python3
"""graft benchmark launcher.

    python3 perfbench/run.py --workload <rest|batch|scan> --seed <n> \
        --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
load generator from source with sbt (the build is reused while the sources
are unchanged), then every run starts one plain `java -cp` process that sets
up, warms up, measures for --seconds, checks its answers and writes a result
file. The last line printed is one JSON object with `correct`, `attempted`,
`failed` and `metrics`: the end-to-end metrics of BENCHMARK.json with
--trace 0, its per-layer metrics with --trace 1.
"""

import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(HERE, ".build")
WORK_ROOT = os.path.join(HERE, ".work")
OUT_DIR = os.path.join(HERE, "out")

WORKLOADS = ("rest", "batch", "scan")
# `scan`: both serving-cache budgets below the resident size of the default
# corpus's snapshot (~1.2 MB of postings, ~2 MB resident), so the engine's
# residency checks turn the caches off and every batch scans parquet.
SCAN_CACHE_MB = "1"
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 165
HEAP_CAP_GB = 2

# Spark 4 on JDK 17 needs these when started outside spark-submit (the same
# list the engine's build.sbt passes to its forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

# Engine knobs that would change what is measured; a run starts without them
# so it measures the engine's defaults.
ENGINE_ENV = ["GRAFT_BLOCK_CACHE_MB", "GRAFT_CONTRIB_CACHE_MB", "GRAFT_POS_SCAN",
              "GRAFT_BM25_SCAN", "GRAFT_TIMING", "GRAFT_SERVER_THREADS",
              "GRAFT_SHUFFLE_CODEC", "SPARK_GRAFT_CPUS", "SPARK_MASTER",
              "GRAFT_BM25_SLOT_CHUNKS", "SPARK_LOCAL_DIRS"]

def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads from this checkout."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    out = []
    for r in roots:
        if os.path.isfile(r):
            out.append(r)
        for d, dirs, files in os.walk(r):
            dirs.sort()
            out.extend(os.path.join(d, f) for f in sorted(files))
    return out


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compiles engine + load generator once per source state; returns the
    runtime classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"no engine sources here ({need} missing); run from a graft checkout")
    digest = source_hash()
    cp_file = os.path.join(BUILD_DIR, "classpath.json")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            cached = json.load(f)
        if cached.get("hash") == digest and all(os.path.exists(p) for p in cached["classpath"]):
            return cached["classpath"]
    os.makedirs(BUILD_DIR, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    t = time.time()
    try:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
            stderr=subprocess.STDOUT, text=True, timeout=BUILD_TIMEOUT_S,
            start_new_session=True)
    except subprocess.TimeoutExpired:
        die("build timed out")
    except FileNotFoundError:
        die("sbt not found on PATH")
    lines = p.stdout.splitlines()
    if p.returncode != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        die(f"build failed (exit {p.returncode})")
    cp_line = next((ln for ln in reversed(lines) if ln.endswith(".jar") or "/classes" in ln), None)
    if cp_line is None or ":" not in cp_line:
        die("build printed no classpath")
    classpath = cp_line.strip().split(os.pathsep)
    with open(cp_file, "w") as f:
        json.dump({"hash": digest, "classpath": classpath,
                   "build_s": round(time.time() - t, 1)}, f)
    print(f"perfbench: built in {time.time() - t:.0f} s", file=sys.stderr)
    return classpath


def heap_gb():
    """Fixed heap: tier-1's rule (half of MemTotal, 2..8 GB), capped."""
    gb = 2
    try:
        with open("/proc/meminfo") as f:
            for ln in f:
                if ln.startswith("MemTotal:"):
                    gb = min(8, max(2, int(ln.split()[1]) // 2097152))
    except OSError:
        pass
    return min(gb, HEAP_CAP_GB)


def metric_names(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def run_jvm(classpath, args, work, result, spans):
    heap = f"{heap_gb()}g"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    jvm = ["java", f"-Xms{heap}", f"-Xmx{heap}", "-XX:+AlwaysPreTouch", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        jvm += ["--add-opens", f"{p}=ALL-UNNAMED"]
    env = {k: v for k, v in os.environ.items() if k not in ENGINE_ENV}
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    if args.workload == "scan":
        env["GRAFT_BLOCK_CACHE_MB"] = env["GRAFT_CONTRIB_CACHE_MB"] = SCAN_CACHE_MB
    cmd = jvm + ["-cp", os.pathsep.join(classpath), "graft.perfbench.PerfBench",
                 "--workload", args.workload, "--seed", str(args.seed),
                 "--seconds", str(args.seconds), "--trace", str(args.trace),
                 "--docs", str(args.docs), "--append-docs", str(args.append_docs),
                 "--inject-wrong", "1" if args.inject_wrong else "0",
                 "--work", work, "--out", result, "--spans", spans,
                 "--launch-ms", str(int(time.time() * 1000))]
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdin=subprocess.DEVNULL,
                            stdout=sys.stderr, stderr=sys.stderr, start_new_session=True)
    try:
        rc = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        die("run timed out", 1)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    settings = {"heap": heap, "pretouch": True, "jvm": "java -cp (no sbt)",
                "cache_env": {k: env[k] for k in ("GRAFT_BLOCK_CACHE_MB", "GRAFT_CONTRIB_CACHE_MB") if k in env}}
    return rc, settings


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--docs", type=int, default=1200, help="corpus size (pages)")
    ap.add_argument("--append-docs", type=int, default=400, help="pages per probed append")
    ap.add_argument("--inject-wrong", action="store_true",
                    help="corrupt one expected answer (tests the correctness gate)")
    args = ap.parse_args()
    if args.seconds < 1:
        die("--seconds must be at least 1")
    if not os.path.isfile(os.path.join(ROOT, "BENCHMARK.json")):
        die("BENCHMARK.json missing at the checkout root")

    classpath = build()
    os.makedirs(OUT_DIR, exist_ok=True)
    work = os.path.join(WORK_ROOT, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    result = os.path.join(work, "result.json")
    spans = os.path.join(OUT_DIR, f"spans-{args.workload}-{args.seed}.jsonl")
    try:
        rc, settings = run_jvm(classpath, args, work, result, spans)
        if rc != 0 or not os.path.exists(result):
            die(f"benchmark process failed (exit {rc})", 1)
        with open(result) as f:
            res = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    res["settings"].update(settings)
    for p in res["problems"]:
        print(f"problem: {p}")
    for k, m in res["metrics"].items():
        print(f"{k} = {m['value']} {m['unit']}")
    print("settings: " + json.dumps(res["settings"], sort_keys=True))
    if args.trace:
        print(f"spans: {os.path.relpath(spans, ROOT)}")

    wanted = metric_names(args.trace)
    out = {}
    for name in wanted:
        m = res["metrics"].get(name)
        if m is None or m["value"] is None or not math.isfinite(m["value"]):
            die(f"metric {name} was not measured", 1)
        out[name] = {"value": m["value"], "unit": m["unit"]}
    print(json.dumps({"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": out}))


if __name__ == "__main__":
    main()
