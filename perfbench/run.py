#!/usr/bin/env python3
"""Streaming benchmark of the validation job.

Run from the root of a checkout:

    python3 perfbench/run.py --workload stream_many_batches --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --workload all --seed 1     # every workload, a table at the end

Builds the program and the benchmark from source on first use (sbt, under
.bench_build/), then runs one workload in one JVM and prints information
lines followed by the result line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 the per-layer ones (the span list goes to .bench_build/traces/).
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

BUILD = ".bench_build"
# Runnable by name but not part of BENCHMARK.json (see perfbench/README.md).
EXTRA_WORKLOADS = ["stream_hot_batch_salted"]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    files = []
    for root in ("src/main", "perfbench/src/main", "perfbench/project"):
        files += [f for f in glob.glob(f"{root}/**/*", recursive=True)
                  if os.path.isfile(f) and "/target/" not in f]
    return sorted(files + ["perfbench/build.sbt"])


def build():
    """Compile once per source tree; the stamp is a hash of every source."""
    h = hashlib.sha256()
    for f in source_files():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"]
    with open(log, "w") as out:
        p = subprocess.run(cmd, cwd="perfbench", stdout=out, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    with open(log) as fh:
        lines = fh.read().splitlines()
    if p.returncode != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (see {log})")
    cps = [l for l in lines if "scala-2.13/classes" in l and not l.startswith("[")]
    if not cps:
        fail(f"build printed no classpath (see {log})")
    with open(cp_file, "w") as fh:
        fh.write(cps[-1].strip())
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cps[-1].strip()


def run_all(bench, a):
    """Runs every workload in turn and prints its metrics as a table."""
    rows = []
    for w in bench["workloads"]:
        p = subprocess.run([sys.executable, __file__, "--workload", w["name"], "--seed", str(a.seed),
                            "--seconds", str(a.seconds), "--trace", str(a.trace)],
                           stdout=subprocess.PIPE, text=True)
        lines = p.stdout.splitlines()
        if p.returncode != 0 or not lines:
            fail(f"{w['name']} failed")
        r = json.loads(lines[-1])
        print(json.dumps({"workload": w["name"], **r}))
        rows.append((w["name"], r))
    for name, r in rows:
        print(f"{name}: correct={r['correct']} attempted={r['attempted']} failed={r['failed']}")
        for m, v in r["metrics"].items():
            print(f"  {m:32s} {v['value']:14.3f} {v['unit']}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    for need in ("BENCHMARK.json", "perfbench/build.sbt", "src/main/scala/graft/streaming"):
        if not os.path.exists(need):
            fail(f"{need} not found: run from the root of a full checkout")
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    if a.seconds is None:
        a.seconds = bench["run_seconds"]
    if a.workload == "all":
        run_all(bench, a)
        return
    if a.workload not in [w["name"] for w in bench["workloads"]] + EXTRA_WORKLOADS:
        fail(f"unknown workload {a.workload}")
    want = {m["name"]: m["unit"] for m in bench["per_layer" if a.trace else "end_to_end"]}

    cp = build()
    work = os.path.abspath(os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"))
    spans = os.path.abspath(os.path.join(BUILD, "traces", f"{a.workload}-seed{a.seed}.json"))
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = (["java", "-Xms2g", "-Xmx2g", "-Xmn1g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graft.streaming.bench.StreamBench",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--dir", work, "--spans", spans])
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        sys.stdout.write(out)
        fail(f"benchmark JVM exited with {proc.returncode}")
    result = json.loads(lines[-1])
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    wrong = sorted(k for k in want if got.get(k) != want[k])
    if wrong:
        fail(f"metrics missing or in another unit than BENCHMARK.json: "
             f"{[(k, got.get(k), want[k]) for k in wrong]}")
    # metrics of layers that no manifest workload reaches (the salted
    # pipeline's) go to an information line, not the result
    extra = {k: v for k, v in result["metrics"].items() if k not in want}
    result["metrics"] = {k: v for k, v in result["metrics"].items() if k in want}
    for l in lines[:-1]:
        print(l)
    if extra:
        print(json.dumps({"not_in_manifest": extra}))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
