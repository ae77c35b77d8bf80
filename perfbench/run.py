#!/usr/bin/env python3
"""Benchmark of the methylation/LLM-data Spark engine in this repository.

Usage (from the repository root):

    python3 perfbench/run.py --workload methyl_pipeline --seed 1 --seconds 12 --trace 0

builds the engine and the benchmark from the source tree (sbt, once per
source state; outputs under .bench_build/), generates the input tables
(fixed data seed, so every run reads the same rows; cached under
.bench_build/data/), and runs one workload in a fresh JVM. `--seed` permutes
the order of the queries within each pass. The last line of stdout is one
JSON object: {"correct", "attempted", "failed", "metrics"}; with --trace 0
the metrics are the end-to-end metrics of BENCHMARK.json, with --trace 1 the
per-layer ones. The line before it is the full run record.

Developer modes (same build and data; they write under perfbench/):
    --record-checksums   re-record perfbench/expected_checksums.tsv (runs
                         every workload query twice, in two JVMs, and refuses
                         to write unless both agree)
    --compare-count      time count() against the full-output action for
                         every workload query -> perfbench/reports/count_vs_full.tsv
"""

import argparse
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
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(BUILD, "work")
RESULTS = os.path.join(BUILD, "results")
EXPECTED = os.path.join(HERE, "expected_checksums.tsv")

# Input tables: fixed, so results are comparable across seeds and commits.
DATA_SEED = 42
DATA_SF = 0.004
RUN_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def digest(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def build():
    """Compiles the program and the benchmark once per source state and
    returns the runtime classpath."""
    tree = digest(source_files())
    stamp = os.path.join(BUILD, "classpath-" + tree)
    if os.path.exists(stamp):
        with open(stamp) as f:
            return tree, f.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
            timeout=800).returncode
    with open(log) as f:
        lines = f.read().splitlines()
    cp = [l for l in lines if not l.startswith("[") and ".jar" in l]
    if rc != 0 or not cp:
        print("\n".join(lines[-30:]), file=sys.stderr)
        die(f"build failed (rc={rc}); log in {log}")
    with open(stamp, "w") as f:
        f.write(cp[-1])
    return tree, cp[-1]


def host():
    with open("/proc/meminfo") as f:
        mem_kb = int(next(l for l in f if l.startswith("MemTotal:")).split()[1])
    nproc = len(os.sched_getaffinity(0))
    # driver heap as in the tier-1 tests: MemTotal/2, clamped to 2..8 GiB
    xmx = f"{min(8, max(2, mem_kb // 2097152))}g"
    return {"nproc": nproc, "mem_total_kb": mem_kb, "xmx": xmx}


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def java(cp, h, args, timeout, log):
    """Runs perfbench.Main in a fresh JVM whose temp files stay in WORK."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    exe = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [exe, f"-Xmx{h['xmx']}", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--nproc", str(h["nproc"]), "--work", WORK] + args
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=WORK, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(log) as f:
            print("".join(f.readlines()[-40:]), file=sys.stderr)
        die(f"JVM exited with {rc}; log in {log}", 1)


def fresh_work():
    """Every run starts from the same scratch state: an empty work dir."""
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)


def data(cp, h):
    gen = os.path.join(HERE, "src", "main", "scala", "perfbench", "DataGen.scala")
    d = os.path.join(BUILD, "data", digest([gen], f"{DATA_SEED}/{DATA_SF}"))
    if not os.path.isdir(d):
        fresh_work()
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        java(cp, h, ["--mode", "gen", "--data", tmp, "--seed", str(DATA_SEED), "--sf", str(DATA_SF)],
             RUN_TIMEOUT_S, os.path.join(BUILD, "gen.log"))
        os.rename(tmp, d)
    return d


def commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record-checksums", action="store_true")
    ap.add_argument("--compare-count", action="store_true")
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")) or not os.path.exists(spec_path):
        die("no program source tree (src/main/scala) or BENCHMARK.json next to perfbench/")
    with open(spec_path) as f:
        spec = json.load(f)
    workloads = [w["name"] for w in spec["workloads"]]
    if not (a.record_checksums or a.compare_count) and a.workload not in workloads:
        die(f"--workload must be one of {workloads}")

    h = host()
    tree, cp = build()
    d = data(cp, h)
    os.makedirs(RESULTS, exist_ok=True)

    if a.record_checksums:
        sums = []
        for i in range(2):
            fresh_work()
            out = os.path.join(RESULTS, f"checksums-{i}.tsv")
            java(cp, h, ["--mode", "record", "--workloads", ",".join(workloads), "--data", d, "--out", out],
                 900, os.path.join(RESULTS, f"record-{i}.log"))
            with open(out) as f:
                sums.append(f.read())
        if sums[0] != sums[1]:
            die("checksums differ between two JVMs; not recording")
        with open(EXPECTED, "w") as f:
            f.write(f"# name\trows:hash  (data seed {DATA_SEED}, sf {DATA_SF}, source tree {tree})\n")
            f.write(sums[0] + "\n")
        print(f"wrote {EXPECTED}")
        return
    if a.compare_count:
        fresh_work()
        out = os.path.join(HERE, "reports", "count_vs_full.tsv")
        os.makedirs(os.path.dirname(out), exist_ok=True)
        java(cp, h, ["--mode", "compare", "--workloads", ",".join(workloads), "--data", d, "--out", out],
             1800, os.path.join(RESULTS, "compare.log"))
        print(f"wrote {out}")
        return

    fresh_work()
    load0 = loadavg()
    out = os.path.join(WORK, "result.json")
    java(cp, h, ["--mode", "run", "--workload", a.workload, "--seed", str(a.seed),
                 "--seconds", str(a.seconds), "--trace", str(a.trace),
                 "--data", d, "--expected", EXPECTED, "--out", out],
         RUN_TIMEOUT_S, os.path.join(WORK, "jvm.log"))
    with open(out) as f:
        rec = json.load(f)
    rec["host"] = dict(h, load_avg_before=load0, load_avg_after=loadavg())
    rec.update(commit=commit(), source_tree=tree, data={"seed": DATA_SEED, "sf": DATA_SF, "dir": os.path.relpath(d, ROOT)})
    stem = f"{a.workload}-seed{a.seed}-trace{a.trace}-{int(time.time())}"
    with open(os.path.join(RESULTS, stem + ".json"), "w") as f:
        json.dump(rec, f)
    if a.trace:
        shutil.copy(rec["spans_file"], os.path.join(RESULTS, stem + ".spans.json"))

    group = "per_layer" if a.trace else "end_to_end"
    values = rec["per_layer"] if a.trace else rec["end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec[group]}
    print(json.dumps({k: v for k, v in rec.items() if k not in ("per_query",)}))
    print(json.dumps({"correct": rec["correct"], "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
