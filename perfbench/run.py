#!/usr/bin/env python3
"""Build and run the graft engine benchmark.

Run from the root of a checkout:

  python3 perfbench/run.py --workload alloc_small --seed 1 --seconds 12 --trace 0
  python3 perfbench/run.py --steady 10 --workload curate_corpus [--trace 1]
  python3 perfbench/run.py --report            # every workload, untraced then traced

The first run builds the engine and the harness from source with sbt (the
harness build in perfbench/ depends on the repo's own build) and caches the
resulting classpath of jars under perfbench/work/, keyed by a hash of the
sources. Later runs start the JVM directly. The first run of each workload
after a build also writes a class-data archive there, which later runs of
that workload map. The last stdout line of a run is the JSON result. The harness's own tests run with `sbt test` in perfbench/.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
WORK = os.path.join(BENCH, "work")
WORKLOADS = ["alloc_small", "corpus_events", "alloc_large", "curate_corpus", "events_stream"]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

# What spark-submit would add on JDK 17 (JavaModuleOptions); the engine's
# build.sbt passes the same list to forked runs.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads, relative to the checkout root."""
    tops = ["build.sbt", "project/build.properties", "src/main",
            "perfbench/build.sbt", "perfbench/project/build.properties", "perfbench/src/main"]
    out = []
    for top in tops:
        p = os.path.join(ROOT, top)
        if os.path.isfile(p):
            out.append(top)
        for d, _, files in os.walk(p):
            out += [os.path.relpath(os.path.join(d, f), ROOT) for f in files]
    return sorted(out)


def source_hash(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(os.path.join(ROOT, f), "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    """The harness's runtime classpath, building first when sources changed."""
    for need in ["build.sbt", "src/main/scala/graft", "perfbench/build.sbt"]:
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found: run from the root of a graft checkout")
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    stamp = source_hash(source_files())
    cache = os.path.join(WORK, "classpath.json")
    if os.path.exists(cache):
        with open(cache) as fh:
            cached = json.load(fh)
        if cached.get("stamp") == stamp and all(os.path.exists(p) for p in cached["cp"]):
            return cached["cp"]
    print("perfbench: building engine and harness with sbt", file=sys.stderr)
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspathAsJars"],
        cwd=BENCH, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=BUILD_TIMEOUT_S, start_new_session=True)
    lines = proc.stdout.splitlines()
    cp_lines = [l for l in lines if not l.startswith("[") and ".jar" in l]
    if proc.returncode != 0 or not cp_lines:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed", 1)
    cp = cp_lines[-1].strip().split(os.pathsep)
    os.makedirs(WORK, exist_ok=True)
    print(f"perfbench: built in {time.time() - t0:.0f} s", file=sys.stderr)
    with open(cache, "w") as fh:
        json.dump({"stamp": stamp, "cp": cp}, fh)
    return cp


def class_archive(workload):
    """JVM flags for the workload's class-data archive.

    The archive holds the classes a run of the workload loads, already parsed
    and verified, so the JVM and the Spark session start faster. It is keyed
    by the same source hash as the classpath. The first run of a workload
    after a build runs without it and writes it when its JVM exits, after the
    result is printed."""
    with open(os.path.join(WORK, "classpath.json")) as fh:
        stamp = json.load(fh)["stamp"][:16]
    jsa = os.path.join(WORK, f"classes-{workload}-{stamp}.jsa")
    if os.path.exists(jsa):
        return [f"-XX:SharedArchiveFile={jsa}"]
    for old in glob.glob(os.path.join(WORK, f"classes-{workload}-*")):
        os.remove(old)
    return [f"-XX:ArchiveClassesAtExit={jsa}"]


def run_once(cp, workload, seed, seconds, trace, quiet=False):
    """One harness process. Returns the parsed JSON result, or exits."""
    run_dir = os.path.join(WORK, "runs", f"{workload}-{seed}-{trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    # JVM warnings (writing the class-data archive logs some) go to stderr, so
    # the last stdout line stays the JSON result.
    cmd = [java, "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           "-Xlog:disable", "-Xlog:all=warning:stderr",
           f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}", *class_archive(workload)]
    cmd += [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS]
    cmd += ["-cp", os.pathsep.join(cp), "perfbench.Main", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace), "--work", run_dir]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, err = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"{workload} seed {seed} timed out after {RUN_TIMEOUT_S} s", 1)
    spans = os.path.join(run_dir, f"spans-{workload}-{seed}.jsonl")
    if os.path.exists(spans):
        os.makedirs(os.path.join(WORK, "spans"), exist_ok=True)
        shutil.move(spans, os.path.join(WORK, "spans", os.path.basename(spans)))
    shutil.rmtree(run_dir, ignore_errors=True)
    lines = out.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(err[-6000:])
        sys.stdout.write(out)
        fail(f"{workload} seed {seed} exited with {proc.returncode}", 1)
    if not quiet:
        sys.stdout.write(out)
        sys.stdout.flush()
    return json.loads(lines[-1]), lines[:-1]


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3, (q3 - q1) / q2 if q2 else float("nan")


def steady(cp, workload, runs, seed_base, seconds, trace):
    """Runs a workload `runs` times back to back on consecutive seeds and
    prints each metric's median, quartiles and IQR/median spread."""
    per_metric = {}
    units = {}
    for k in range(runs):
        seed = seed_base + k
        t0 = time.time()
        res, _ = run_once(cp, workload, seed, seconds, trace, quiet=True)
        for name, m in res["metrics"].items():
            per_metric.setdefault(name, []).append(m["value"])
            units[name] = m["unit"]
        print(f"# {workload} seed {seed}: correct={res['correct']} attempted={res['attempted']} "
              f"failed={res['failed']} wall={time.time() - t0:.1f}s "
              + " ".join(f"{n}={m['value']:.4g}" for n, m in res["metrics"].items()
                         if not trace or n.endswith("_s")), flush=True)
    print(f"{workload}: {runs} runs, seeds {seed_base}..{seed_base + runs - 1}")
    summary = {}
    for name, vals in per_metric.items():
        q1, q2, q3, s = spread(vals) if len(vals) >= 2 else (vals[0],) * 3 + (0.0,)
        summary[name] = {"median": q2, "q1": q1, "q3": q3, "spread": s}
        print(f"  {name:<28} median {q2:<12.6g} q1 {q1:<12.6g} q3 {q3:<12.6g} "
              f"iqr/median {s:.4f} {units[name]}")
    return summary


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--steady", type=int, metavar="N", help="run N seeds back to back and summarize")
    ap.add_argument("--report", action="store_true", help="every workload, untraced and traced")
    a = ap.parse_args()
    cp = classpath()
    if a.report:
        for w in WORKLOADS:
            base, _ = run_once(cp, w, a.seed, a.seconds, 0)
            traced, _ = run_once(cp, w, a.seed, a.seconds, 1)
            over = traced["metrics"]["trace.op_p50_s"]["value"] / base["metrics"]["op_p50_s"]["value"] - 1
            print(f"{w}: tracing overhead on op_p50_s {over:+.1%}")
        return
    if a.workload is None:
        ap.error("--workload is required")
    if a.steady:
        steady(cp, a.workload, a.steady, a.seed, a.seconds, a.trace)
        return
    run_once(cp, a.workload, a.seed, a.seconds, a.trace)


if __name__ == "__main__":
    main()
